"""Job-level metrics capture + alarm hooks — the engine-side analogue of
the reference's CloudWatch monitoring (monitoring/main.tf:45-164: Glue
job failure alarms, Lambda error alarms, data-freshness checks).

The reference alarms on AWS-emitted metrics; a Spark engine has to emit
its own. ``MetricsCollector.run`` wraps any driver action in a job
group, then reads the per-stage executor metrics (input/output/shuffle
bytes and records) for exactly the jobs that action spawned from the
AppStatusStore — the same store that backs the Spark UI, populated even
with the UI disabled. No listener registration or callback server is
needed, so it works identically under spark-submit, notebooks, and
tests.

Scale note: everything here is driver-side bookkeeping over per-STAGE
aggregates (a few rows per job), never row data. The status store is
fed asynchronously by the listener bus, so totals are polled briefly
until stable.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

_STAGE_FIELDS = {
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


class MetricsCollector:
    """Collects one metrics record per wrapped action.

    Record shape::

        {"name", "status" ("ok"|"failed"), "error", "wall_sec", "n_jobs",
         "input_bytes", "input_records", "output_bytes", "output_records",
         "shuffle_read_bytes", "shuffle_write_bytes"}

    ``run`` returns the record (with the action's return value under
    "result") and appends it to ``records`` — pipelines merge these into
    their status dicts. ``breaches`` is the alarm hook: pass a predicate
    over records and get the breaching ones back (the engine-side twin of
    a CloudWatch alarm condition).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.records: list[dict[str, Any]] = []

    # ── internals ────────────────────────────────────────────────────────

    def _group_totals(self, group: str) -> dict[str, int]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        totals = dict.fromkeys(_STAGE_FIELDS, 0)
        totals["n_jobs"] = len(job_ids)
        seen_stages: set[int] = set()
        for jid in job_ids:
            try:
                job = store.job(jid)
                sids = [job.stageIds().apply(i) for i in range(job.stageIds().size())]
            except Exception:
                continue
            for sid in sids:
                if sid in seen_stages:  # stages shared across jobs count once
                    continue
                seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue  # skipped stage: no attempt data
                for out_key, accessor in _STAGE_FIELDS.items():
                    totals[out_key] += getattr(sd, accessor)()
        return totals

    def _jobs_terminal(self, group: str, expect_jobs: bool) -> bool:
        # Completion-based readiness: every job the group spawned must be
        # visible in the store AND report a terminal status with all tasks
        # accounted for. (An earlier stable-two-reads poll could return
        # all-zero totals while the listener bus was merely lagging —
        # exactly the condition the freshness alarm fires on.)
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        if expect_jobs and not job_ids:
            return False  # listener bus has not surfaced the jobs yet
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Exception:
                return False
            if job.status().toString() not in ("SUCCEEDED", "FAILED"):
                return False
            if job.numCompletedTasks() + job.numFailedTasks() + job.numSkippedTasks() < job.numTasks():
                return False
        return True

    def _next_job_id(self) -> int:
        """DAGScheduler's job counter — incremented SYNCHRONOUSLY at job
        submission, unlike everything fed by the async listener bus. A
        before/after snapshot around an action tells us for certain
        whether any job was submitted, so an empty status-store group can
        be classified as 'genuinely driver-only' vs 'bus is lagging'."""
        try:
            return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
        except Exception:
            return -1  # scheduler introspection unavailable: fall back to grace

    def _settled_totals(
        self,
        group: str,
        timeout: float = 5.0,
        appear_grace: float = 0.25,
        jobs_submitted: bool | None = None,
    ) -> dict[str, int]:
        # The status store is fed by the async listener bus; wait until the
        # group's jobs all report terminal (or timeout), then read totals.
        # A driver-only action legitimately spawns zero jobs. Whether to
        # wait for jobs to APPEAR is decided by ``jobs_submitted`` (the
        # synchronous DAGScheduler counter, see _next_job_id):
        #   False -> no job was submitted anywhere during the action; an
        #            empty group is certain — return immediately, no sleep.
        #   True  -> jobs were submitted; a lagging bus must not undercount
        #            (r3 advisor finding), so wait for the group's jobs up
        #            to the full timeout before accepting empty. (Jobs from
        #            a concurrent session can also advance the counter —
        #            the cost of that false positive is bounded wait, never
        #            a wrong record.)
        #   None  -> unknown (introspection failed): the old appear_grace
        #            heuristic.
        start = time.time()
        deadline = start + timeout
        while time.time() < deadline:
            has_jobs = bool(
                self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)
            )
            if not has_jobs:
                if jobs_submitted is False:
                    break
                if jobs_submitted is None and time.time() - start >= appear_grace:
                    break
                time.sleep(0.05)
                continue
            if self._jobs_terminal(group, expect_jobs=True):
                break
            time.sleep(0.1)
        return self._group_totals(group)

    # ── public API ───────────────────────────────────────────────────────

    def run(
        self,
        name: str,
        action: Callable[[], Any],
        raise_on_error: bool = True,
    ) -> dict[str, Any]:
        """Execute ``action`` under a dedicated job group and record its
        wall time, status, and stage-level I/O metrics."""
        sc = self.spark.sparkContext
        # unique per call: job groups live in the shared SparkContext, so a
        # name + per-collector index would also count another collector's jobs
        group = f"metrics::{name}::{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        jobs_before = self._next_job_id()
        t0 = time.perf_counter()
        status, error, result, caught = "ok", None, None, None
        try:
            result = action()
        except Exception as ex:  # noqa: BLE001 — status surface, rethrown below
            status, error, caught = "failed", f"{type(ex).__name__}: {ex}", ex
        finally:
            wall = time.perf_counter() - t0
            sc.setJobGroup("", "")
        jobs_after = self._next_job_id()
        submitted = (
            None if jobs_before < 0 or jobs_after < 0 else jobs_after > jobs_before
        )
        record: dict[str, Any] = {
            "name": name,
            "status": status,
            "error": error,
            "wall_sec": round(wall, 3),
            **self._settled_totals(group, jobs_submitted=submitted),
        }
        self.records.append(record)
        if status == "failed" and raise_on_error:
            # chain the original (r3 review): without `from`, the real
            # traceback into the failing action is discarded
            raise RuntimeError(f"job '{name}' failed: {error}") from caught
        return {**record, "result": result}

    def breaches(self, predicate: Callable[[dict[str, Any]], bool]) -> list[dict[str, Any]]:
        """Alarm hook: records for which ``predicate`` holds — e.g.
        ``lambda r: r["status"] == "failed"`` (the Glue failure alarm) or
        ``lambda r: r["input_records"] == 0`` (the freshness alarm)."""
        return [r for r in self.records if predicate(r)]


def wrap_pipeline(
    metrics: MetricsCollector, name: str, fn: Callable[[], Any]
) -> dict[str, Any] | None:
    """Shared pipeline-instrumentation contract (used by transform_iot_sensors
    and transform_weather): run the pipeline body under ``metrics.run`` and
    merge a ``job_metrics`` entry into its status dict. A raising body yields
    {"success": False, "job_metrics": {... status="failed"}} instead of
    propagating; a None body result (empty/missing input) passes through."""
    rec = metrics.run(name, fn, raise_on_error=False)
    result = rec.pop("result")
    if rec["status"] == "failed":
        return {"success": False, "job_metrics": rec}
    return None if result is None else {**result, "job_metrics": rec}


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this driver JVM so far
    (``CodegenMetrics.METRIC_COMPILATION_TIME``'s sample count). The delta
    over a call is its codegen-cache misses: a warm call that still
    compiles is not warm."""
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())
