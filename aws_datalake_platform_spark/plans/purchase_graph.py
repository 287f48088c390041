"""The customer -> part purchase graph walked by q368 (HITS), q382
(k-core), q393 (assortativity) and q394 (label propagation): one edge
per distinct (customer, part) pair that some order line connects."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.core import fits_on_driver


def purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (hub, auth) = (o_custkey, l_partkey) edges."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("hub"), F.col("l_partkey").alias("auth"))
        .distinct()
    )


def checkpointed_edges(
    spark: SparkSession, sf_dir: str, site: str
) -> tuple[DataFrame, tuple[np.ndarray, ...] | None]:
    """The purchase edges checkpointed for an iterative walk, and the
    driver-side index when they are non-empty and ``fits_on_driver``:
    ``(hub_ids, hub_idx, auth_ids, auth_idx)``, each side's sorted
    distinct ids and every edge's position in them (``np.unique``). The
    index is None where ``site`` takes its distributed path."""
    edges = purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    n_edges = edges.count()
    if not (0 < n_edges and fits_on_driver(site, (n_edges, 2))):
        return edges, None
    pdf = edges.toPandas()
    hub_ids, hub_idx = np.unique(pdf["hub"].to_numpy(np.int64), return_inverse=True)
    auth_ids, auth_idx = np.unique(pdf["auth"].to_numpy(np.int64), return_inverse=True)
    return edges, (hub_ids, hub_idx, auth_ids, auth_idx)
