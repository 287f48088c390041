"""The reference's one Glue job skeleton (transform.py:134-270), written
once for both datasets: read -> empty guard (S5) -> validate ->
halt-or-log -> derive -> partitioned snappy write. pipelines/iot.py and
pipelines/weather.py supply only what differs (schema, rule set,
derivation, names).
"""

from __future__ import annotations

import logging
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.io import read_ndjson, write_curated_parquet

logger = logging.getLogger(__name__)


def _row_count(summary: dict[str, Any]) -> int:
    return next(
        r["details"]["row_count"]
        for r in summary["results"]
        if r["expectation_type"] == "expect_table_row_count_to_be_greater_than"
    )


def run_transform(
    spark: SparkSession,
    name: str,
    dataset: str,
    schema: T.StructType,
    validate: Callable[[DataFrame], dict[str, Any]],
    curate: Callable[[DataFrame], DataFrame],
    raw_path: str | None,
    curated_path: str | None,
    raw_df: DataFrame | None,
    halt_on_validation_failure: bool,
    infer_schema: bool,
    metrics,
) -> dict[str, Any] | None:
    """Run one reference transform; return its validation summary, or None
    when the input is missing, unreadable or empty (nothing is written).

    Reads ``raw_path`` with ``schema`` unless ``raw_df`` is given;
    ``infer_schema=True`` restores the reference's infer-on-read.
    ``dataset`` labels log lines and the halt error.

    ``metrics`` (an observability.MetricsCollector) wraps the whole job
    as record ``name``: the returned status dict gains a ``job_metrics``
    entry with wall time, stage I/O totals, and status — the engine-side
    analogue of the reference's per-job CloudWatch metrics
    (monitoring/main.tf:45-164); a raising job yields
    {"success": False, "job_metrics": {...}} with status="failed"
    instead of propagating."""

    def job() -> dict[str, Any] | None:
        df = raw_df
        if df is None:
            try:
                df = read_ndjson(spark, raw_path, schema=None if infer_schema else schema)
            except Exception as e:  # missing path == missing raw data (ref :143-149)
                logger.error("Failed to read raw %s data: %s", dataset, e)
                return None
        # The empty guard runs no job: both rule sets count rows, and the
        # fused validation aggregate has that count. An inferred read of
        # files holding no records has no columns and is empty input too.
        result = validate(df) if df.columns else None
        if result is None or _row_count(result) == 0:
            logger.warning("No raw %s data found", dataset)
            return None

        if not result["success"]:
            logger.error("%s data validation FAILED: %s", dataset, result)
            if halt_on_validation_failure:
                raise ValueError(f"{dataset} validation failed: {result}")

        if curated_path is not None:
            write_curated_parquet(curate(df), curated_path, ["date"])
        return result

    if metrics is None:
        return job()
    from ..observability import wrap_pipeline

    return wrap_pipeline(metrics, name, job)
