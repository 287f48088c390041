"""Every bounded driver-side path must produce bit-identical rows to the
distributed loop it short-cuts.

Each case runs the query once normally (sf0.001 sits far below the
driver budget, so the driver path executes) and once with
``DRIVER_COLLECT_BYTES`` monkeypatched to 0 (forcing the distributed
loop that relations over the budget run), then compares the collected,
canonically-sorted rows."""

from __future__ import annotations

import pytest

from aws_datalake_platform_spark.functions import core
from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY

from .conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "name",
    [
        "q337_zorder_skip_estimate",
        "q368_hits_hubs_authorities",
        "q382_kcore_peel",
        "q394_label_propagation",
        "q426_facility_location_coreset",
        "q202_mmr_rerank",
        "q68_dup_clusters",
    ],
)
def test_driver_path_equals_distributed(spark, monkeypatch, caplog, name):
    spec = QUERY_REGISTRY[name]

    def run(path):
        caplog.clear()
        with caplog.at_level("INFO", logger=core.logger.name):
            rows = _rows(spec.fn(spark, SF_SMOKE))
        decisions = [r.getMessage() for r in caplog.records if r.name == core.logger.name]
        assert decisions and all(d.endswith(f"path={path}") for d in decisions), decisions
        return rows

    fast = run("driver")
    monkeypatch.setattr(core, "DRIVER_COLLECT_BYTES", 0)
    slow = run("distributed")
    assert fast == slow, f"{name}: driver path diverges from distributed path"
    assert fast, f"{name}: vacuous equality (no rows at sf0.001)"


def test_build_concurrently_preserves_thunk_order(spark):
    from aws_datalake_platform_spark.plans.queries import build_concurrently

    a, b, c = build_concurrently(
        lambda: spark.range(1).localCheckpoint(eager=True),
        lambda: spark.range(2).localCheckpoint(eager=True),
        lambda: spark.range(3).localCheckpoint(eager=True),
    )
    assert (a.count(), b.count(), c.count()) == (1, 2, 3)


@pytest.mark.parametrize(
    "name",
    [
        "q367_cochran_q",
        "q225_lsh_dedup_audit",
        "q277_detector_agreement",
        "q354_dup_capture_recapture",
    ],
)
def test_threaded_composites_are_deterministic(spark, name):
    """Two runs of each thread-pool composite must agree exactly — the
    pool changes job scheduling, never the pair relations."""
    spec = QUERY_REGISTRY[name]
    r1 = _rows(spec.fn(spark, SF_SMOKE))
    r2 = _rows(spec.fn(spark, SF_SMOKE))
    assert r1 == r2 and r1
