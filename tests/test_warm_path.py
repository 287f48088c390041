"""The warm path reuses what it already computed: a lake table's parquet
schema is inferred once per unchanged file set (``catalog.load_table``),
and the generated-code cache holds a query mix's classes, so a repeated
call neither launches an inference job nor recompiles."""

from __future__ import annotations

import ast
import json
import os
import shutil
import subprocess
import sys
import uuid
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_datalake_platform_spark.catalog import load_table
from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY

from .conftest import SF_SMOKE
from .oracle import compare, duckdb_conn


def _load_jobs(spark, sf_dir: str, name: str):
    """``load_table`` under its own job group: the frame and the Spark jobs
    the load launched."""
    sc = spark.sparkContext
    group = f"warm-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table")
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setJobGroup("", "")
    return df, sc.statusTracker().getJobIdsForGroup(group)


def test_second_load_infers_no_schema_until_the_file_changes(spark, tmp_path):
    path = tmp_path / "docs.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), str(path))
    first, jobs = _load_jobs(spark, str(tmp_path), "docs")
    assert first.columns == ["doc_id"] and jobs, "the first load infers the schema"

    again, jobs = _load_jobs(spark, str(tmp_path), "docs")
    assert not jobs, "second load of an unchanged table must not launch an inference job"
    assert again.columns == ["doc_id"]

    # rewritten in place with another schema: inferred again, not reused
    pq.write_table(pa.table({"doc_id": [1, 2], "lang": ["en", "de"]}), str(path))
    df, jobs = _load_jobs(spark, str(tmp_path), "docs")
    assert df.columns == ["doc_id", "lang"] and jobs
    assert sorted(r["lang"] for r in df.collect()) == ["de", "en"]


def test_memoized_schema_equals_inferred_schema(spark):
    for name in ("embeddings", "lineitem"):
        load_table(spark, SF_SMOKE, name)
        inferred = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet").schema
        assert load_table(spark, SF_SMOKE, name).schema == inferred, name
    # events' ts is normalized after the read, memo or not
    for _ in range(2):
        assert dict(load_table(spark, SF_SMOKE, "events").dtypes)["ts"] == "timestamp"


# Runs in its own driver JVM: the codegen cache is process-wide, and in
# the shared test session earlier tests have already filled it, so the
# first pass is not cold (measured there: 10 compiles, then 24).
_MIX_PASSES = """
import json
from aws_datalake_platform_spark.observability import codegen_compiles
from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY
from aws_datalake_platform_spark.session import get_spark

spark = get_spark(app_name="warm-path", shuffle_partitions=8)
names = [n for n in QUERY_REGISTRY if n.startswith(("q24_", "q68_", "q411_"))]
assert len(names) == 3, names
compiles = []
for _ in range(2):
    spark.catalog.clearCache()
    before = codegen_compiles(spark)
    for name in names:
        QUERY_REGISTRY[name].fn(spark, %r).write.format("noop").mode("overwrite").save()
    compiles.append(codegen_compiles(spark) - before)
spark.stop()
print(json.dumps(compiles))
"""


def test_repeated_query_mix_does_not_recompile():
    """q24, q68 and q411 together need ~210 generated classes, more than
    Spark's 100-entry default cache: there the second pass recompiles
    about as many classes as the first."""
    root = Path(__file__).resolve().parents[1]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")]))}
    out = subprocess.run(
        [sys.executable, "-c", _MIX_PASSES % SF_SMOKE],
        cwd=root, env=env, capture_output=True, text=True, timeout=900, check=True,
    )
    compiles = json.loads(out.stdout.strip().splitlines()[-1])
    assert compiles[0] > 100, compiles
    assert compiles[1] <= 0.05 * compiles[0], compiles


# Each case appends an exact copy of every 20th row under a new id, so
# the rewritten table has more near-duplicate pairs than the first read.
_REWRITES = {
    "q24": ("q24_minhash_lsh_dedup", "documents",
            "doc_id + 1000000 AS doc_id, text, lang, source, n_chars", "doc_id"),
    "q59": ("q59_embedding_near_dup_lsh", "embeddings",
            "vec_id + 1000000 AS vec_id, embedding, label", "vec_id"),
}


@pytest.mark.parametrize("case", sorted(_REWRITES))
def test_rewritten_table_drops_cached_features(spark, tmp_path, case):
    """The LSH detectors leave their feature relation in Spark's cache so a
    repeat call on an unchanged table reuses it; a table rewritten in
    place must not be answered from the old table's features."""
    name, table, copy_cols, key = _REWRITES[case]
    for f in Path(SF_SMOKE).glob("*.parquet"):
        shutil.copy(f, tmp_path / f.name)
    spec = QUERY_REGISTRY[name]
    spec.fn(spark, str(tmp_path)).collect()

    path = tmp_path / f"{table}.parquet"
    staged = tmp_path / "rewrite.tmp"
    with duckdb.connect() as con:
        con.execute(
            f"COPY (SELECT * FROM '{path}' UNION ALL SELECT {copy_cols} "
            f"FROM '{path}' WHERE {key} % 20 = 0) TO '{staged}' (FORMAT parquet)"
        )
    os.replace(staged, path)

    con = duckdb_conn(str(tmp_path))
    try:
        ok, msg = compare(spec.fn(spark, str(tmp_path)), con, spec.sql)
    finally:
        con.close()
    assert ok, f"{name} after rewriting {table}: {msg}"


# The relations the package caches across calls (a repeat call on an
# unchanged table reuses them), as (module, enclosing function). Reuse
# inside one call goes through localCheckpoint, which needs no release.
_PERSIST_SITES = [
    ("operators/dedup.py", "minhash_lsh_pairs"),
    ("operators/dedup.py", "simhash_near_dup_pairs"),
    ("operators/similarity.py", "embedding_near_dup_pairs_lsh"),
    # Spark requires a cached relation for a query that reads only the
    # corrupt-record column; the function releases it itself
    ("sources/io.py", "_read_dead_lettered"),
]


def _call_sites(*methods: str) -> list[tuple[str, str]]:
    """One (module, innermost enclosing function) per call of ``methods``
    anywhere in the package."""
    pkg = Path(__file__).resolve().parents[1] / "aws_datalake_platform_spark"
    sites = []

    def visit(node: ast.AST, module: str, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in methods
        ):
            sites.append((module, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, module, fn)

    for path in pkg.rglob("*.py"):
        visit(ast.parse(path.read_text(), str(path)), path.relative_to(pkg).as_posix(), "")
    return sorted(sites)


def test_persist_sites_are_the_named_ones():
    assert _call_sites("persist", "cache") == sorted(_PERSIST_SITES)
    assert _call_sites("unpersist") == [("sources/io.py", "_read_dead_lettered")]
