"""Lake IO: NDJSON raw zone readers/writers + partitioned Parquet sinks.

Reference parity:
- K1: NDJSON landing under date=YYYY-MM-DD/ dirs (batch_ingest:76-93)
- K3: year=/month=/day= landing for streamed events (kinesis/main.tf:38)
- K4: snappy Parquet partitioned by date, overwrite (transform.py:180-185)
- S4: schema-inferred recursive JSON scan (transform.py:144,203)

Scale notes: writes use dynamic partition overwrite (session default) so
a re-run replaces only the partitions it produced instead of truncating
the whole tree like the reference's mode("overwrite"); readers accept an
explicit schema to skip the inference scan (full extra pass at 100 TB).
"""

from __future__ import annotations

import itertools
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

_CORRUPT = "_corrupt_record"
_RUN_SEQ = itertools.count()


def _read_dead_lettered(
    spark: SparkSession,
    fmt: str,
    path: str,
    schema: T.StructType | None,
    bad_records_path: str,
    **options: str,
) -> DataFrame:
    """Dead-letter read shared by read_ndjson and read_csv: a PERMISSIVE
    scan with a ``_corrupt_record`` column routes bad lines, and a
    DROPMALFORMED re-read of the same files is returned. ``options`` are
    the format's own reader options, applied to both scans.

    - Bad lines land under a per-run ``run=<millis>-<pid>-<seq>``
      subdirectory (partition-style name, so a plain read of the
      dead-letter root still globs): each invocation logs what IT saw —
      the Firehose error-prefix layout — and the pid+seq suffix makes
      same-millisecond invocations collision-free under mode("error").
    - The PERMISSIVE scan is persisted only for the bad-line write:
      Spark rejects a corrupt-column-ONLY query over a raw file scan, so
      that one query must run over the cached relation; the cache is
      released immediately after — no leaked blocks.
    - The RETURNED frame is ``clean_df`` — a DROPMALFORMED re-read whose
      lineage has no corrupt column at all. Returning a filter over the
      PERMISSIVE scan instead breaks under column pruning: count() /
      isEmpty() prune every data column, leaving a corrupt-column-only
      scan that Spark refuses (UNSUPPORTED_FEATURE.QUERY_ONLY_
      CORRUPT_RECORD_COLUMN — r3 review finding, regression test
      test_pipelines.py::test_dead_letter_good_rows_count_directly).
      Fully recomputable from the files, nothing cached.
    - DROPMALFORMED is itself PROJECTION-DEPENDENT (r3 advisor finding):
      under column pruning Spark drops only rows malformed in the
      REQUIRED columns, so ``count()`` (zero required columns) keeps a
      type-mismatched row that ``collect()`` drops — funnel counts would
      silently disagree with delivered rows AND with the dead-letter
      dir. The returned frame therefore carries a filter that references
      EVERY schema column (``to_json(struct(*)) IS NOT NULL`` — always
      true on surviving rows, but to_json is nullable-typed so the
      optimizer cannot fold it away and pruning can never shrink the
      required set below the full schema). Regression:
      test_pipelines.py::test_dead_letter_count_equals_collect.
    """
    if schema is None:
        raise ValueError("bad_records_path requires an explicit schema")
    aug = T.StructType(list(schema.fields) + [T.StructField(_CORRUPT, T.StringType())])
    df = (
        spark.read.options(**options).schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .format(fmt).load(path)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    clean_df = (
        spark.read.options(**options).schema(schema)
        .option("mode", "DROPMALFORMED")
        .format(fmt).load(path)
    )
    try:
        run_dir = (
            f"{bad_records_path}/run={int(time.time() * 1000)}"
            f"-{os.getpid()}-{next(_RUN_SEQ)}"
        )
        df.filter(F.col(_CORRUPT).isNotNull()).select(_CORRUPT).write.mode(
            "error"
        ).text(run_dir)
        return clean_df.filter(
            F.to_json(F.struct(*clean_df.columns)).isNotNull()
        )
    finally:
        df.unpersist(blocking=False)


def read_ndjson(
    spark: SparkSession, path: str, schema: T.StructType | None = None, bad_records_path: str | None = None
) -> DataFrame:
    """JSON directory scan (S4). With a schema: single pass, no inference
    job. With ``bad_records_path`` (requires a schema): corrupt lines are
    routed to a dead-letter directory — the Firehose error-prefix
    analogue (kinesis/main.tf:39) — and only clean rows are returned.

    The routing is the OSS PERMISSIVE + columnNameOfCorruptRecord
    pattern: Databricks' ``badRecordsPath`` reader option is NOT
    implemented in open-source Spark (it is silently ignored), so relying
    on it would drop the dead-letter guarantee without any error. See
    _read_dead_lettered for the caching + per-run-directory contract."""
    if bad_records_path is not None:
        return _read_dead_lettered(spark, "json", path, schema, bad_records_path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_ndjson(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Raw-zone NDJSON sink (K1/K3 semantics: newline-delimited JSON in
    hive-partitioned dirs)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).json(path)


def write_curated_parquet(
    df: DataFrame, path: str, partition_cols: tuple[str, ...] | list[str] = ("date",)
) -> None:
    """Curated-zone sink (K4): snappy parquet partitioned by date.
    Dynamic partition overwrite comes from the session config."""
    (
        df.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .option("compression", "snappy")
        .parquet(path)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    delimiter: str = ",",
    bad_records_path: str | None = None,
) -> DataFrame:
    """CSV directory scan. With a schema: single pass, no inference job
    (at 100 TB inference is a full extra read); with ``bad_records_path``
    (requires a schema) malformed rows are dead-lettered via the same
    PERMISSIVE + corrupt-column split as read_ndjson (Databricks'
    badRecordsPath option is a silent no-op on OSS Spark). Without a
    schema, inference reads once to sample — acceptable only for ad-hoc
    exploration."""
    options = {"header": str(header).lower(), "sep": delimiter}
    if bad_records_path is not None:
        return _read_dead_lettered(spark, "csv", path, schema, bad_records_path, **options)
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_csv(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] | list[str] = (),
    header: bool = True,
    delimiter: str = ",",
) -> None:
    """CSV sink (interchange exports — curated data should stay parquet;
    CSV carries no types, no compression-friendly layout, no predicate
    pushdown)."""
    writer = df.write.mode("overwrite").option("header", str(header).lower()).option("sep", delimiter)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.csv(path)


def write_orc(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> None:
    """Partitioned ORC write (zlib default) — the interchange format for
    Hive-ecosystem consumers; same dynamic-overwrite semantics as the
    parquet path."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan; predicate pushdown and column pruning work as with
    parquet (ORC is a first-class Spark source with its own vectorized
    reader)."""
    return spark.read.orc(path)
