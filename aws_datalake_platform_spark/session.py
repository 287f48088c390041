"""SparkSession factory.

The reference runs its transform on Glue 4.0 (Spark 3.3) with 2xG.1X
workers (reference: terraform/modules/glue/main.tf:328-333); serving is
Athena SQL. Here a single tuned SparkSession provides both roles.

Design for scale: every config below is chosen so the same code runs
unchanged on a large cluster — AQE handles runtime re-planning (skew
joins, partition coalescing), shuffle partitions default to a small
local-friendly number but are overridable via env for cluster runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
CODEGEN_CACHE_ENTRIES = 1000


def _default_driver_mem() -> str:
    """48g, or half the host's MemTotal when that is smaller: a heap that
    outgrows physical memory ends in a kernel OOM kill, not a Java
    OutOfMemoryError. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(48 * 1024, int(line.split()[1]) // 2048)}m"
    except OSError:
        pass
    return "48g"


def get_spark(
    app_name: str = "aws_datalake_platform_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for analytics workloads.

    - AQE on: runtime partition coalescing + skew-join splitting, which is
      what keeps a fixed shuffle-partition setting safe across 1000x data
      scale changes.
    - Arrow on: vectorized Pandas UDF / toPandas transfer.
    - UTC session timezone: deterministic timestamp semantics everywhere.
    - Dynamic partition overwrite: per-partition replacement instead of the
      reference's full-tree truncate-and-rewrite (transform.py:180-185).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # TIMESTAMP(NANOS) parquet columns (testdata events.ts) read as
        # bigint nanos instead of erroring; catalog.load_table converts to
        # a proper timestamp. Set once here — queries must never mutate
        # session conf as a side effect.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Deeply composed pipelines (dedup -> CC -> containment -> gate,
        # each step embedding cached subplans) grow plan TREES whose
        # string form is quadratic-ish in depth; Spark stringifies the
        # plan for every action's SQL-listener event, and the default
        # cap (~2 GB) let one 52k-doc funnel OOM a 32 GB driver inside
        # explainString (Arrays.copyOf in StringConcat.append — measured
        # r4). 1 MB keeps events useful and bounds the cost.
        .config("spark.sql.maxPlanStringLength", str(1024 * 1024))
        # Generated-class cache (a static conf: it takes effect only when
        # this call starts the session). Spark's default of 100 entries is
        # below the query mixes' working sets, so the LRU never hits and
        # every warm call recompiles (Janino) and re-JITs its classes. Measured with CodegenMetrics: the dedup/similarity
        # curation mix needs 273-327 classes on a cold pass and recompiled
        # ~296 per warm pass at the default, at sf0.001 and sf0.01; the
        # twelve-query SQL serving mix at sf0.1 needs ~115 and recompiled
        # 106 per warm pass; one ETL transform needs ~20 and already
        # fits. 1000 leaves ~3x headroom; at 1000 both mixes compile 0.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
