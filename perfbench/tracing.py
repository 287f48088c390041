"""Bench-side tracing.

Spans are recorded by the benchmark around its calls into the engine's
public functions; nothing inside the engine is instrumented. After each
call the job, stage and SQL-operator records that call produced are read
from Spark's AppStatusStore (``SparkContext.statusStore`` for jobs and
stages, ``SharedState.statusStore`` for SQL executions). Both stores are
fed by the listener bus with the UI disabled.

Everything stays in memory until ``Tracer.dump`` writes it at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Stage fields summed over an op's stages (exact longs from StageData).
_STAGE_FIELDS = {
    "exec.n_tasks": "numCompleteTasks",
    "exec.task_run_s": "executorRunTime",
    "exec.task_cpu_s": "executorCpuTime",
    "exec.gc_s": "jvmGcTime",
    "io.input_bytes": "inputBytes",
    "io.input_records": "inputRecords",
    "io.output_bytes": "outputBytes",
    "exchange.shuffle_read_bytes": "shuffleReadBytes",
    "exchange.shuffle_write_bytes": "shuffleWriteBytes",
    "exchange.spill_bytes": "diskBytesSpilled",
}
_SCALE = {"exec.task_run_s": 1e-3, "exec.gc_s": 1e-3, "exec.task_cpu_s": 1e-9}  # ms, ms, ns

# SQL plan metrics summed over every node of an op's executions. The
# status store keeps them as display strings, parsed by _metric_total.
_SQL_METRICS = {
    "time to run Python workers": "operators.python_eval_s",
    "data sent to Python workers": "operators.arrow_bytes_to_python",
    "data returned from Python workers": "operators.arrow_bytes_from_python",
    "number of written files": "io.files_written",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def _metric_total(text: str) -> float:
    """Total of one SQL metric display string: ``"1,234"``, ``"27 ms"``
    or ``"total (min, med, max ...)\\n3.3 s (821 ms, ...)"``."""
    line = text.split("\n")[1] if "\n" in text else text
    parts = line.strip().split(" ")
    value = float(parts[0].replace(",", ""))
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Spans plus status-store reads for one Spark session."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": len(self.ops),
            "t0": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def mark(self) -> tuple[int, int]:
        """Synchronous job counter and SQL execution count, taken before
        and after a call to bracket the records it produced."""
        return int(self._sc.dagScheduler().nextJobId()), int(self._sql.executionsCount())

    def settle(self, timeout: float = 30.0) -> None:
        """Wait for jobs still running (AQE can leave cancelled stages
        behind) and for the listener bus to deliver their events."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.perf_counter() + timeout
        while tracker.getActiveJobsIds() and time.perf_counter() < deadline:
            time.sleep(0.01)
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, first_job: int, end_job: int) -> list[dict]:
        """Job spans and the distinct stage attempts that ran for them."""
        store = self._sc.statusStore()
        out, seen = [], set()
        for jid in range(first_job, end_job):
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 — a job the bus never delivered
                continue
            t0, t1 = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            stages = []
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage, no attempt
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                stages.append({k: int(getattr(sd, f)()) for k, f in _STAGE_FIELDS.items()})
            if t0 is not None:
                out.append({"job": jid, "t0": t0, "t1": t1 or t0, "stages": stages})
        return out

    def sql_metrics(self, first_exec: int, end_exec: int) -> dict[str, float]:
        totals = dict.fromkeys(_SQL_METRICS.values(), 0.0)
        if end_exec <= first_exec:
            return totals
        execs = self._sql.executionsList(first_exec, end_exec - first_exec)
        for i in range(execs.size()):
            ex = execs.apply(i)
            values = self._sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _SQL_METRICS.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    totals[key] += _metric_total(v.get())
        return totals

    def record_op(self, kind: str, t0: float, t1: float, before, after) -> dict:
        """Close one op: its job spans, stage totals and SQL metrics. The
        caller adds the bench-side layer values to the returned record."""
        jobs = self.jobs(before[0], after[0])
        rec = {"kind": kind, "t0": t0, "t1": t1, "trace.wall_s": t1 - t0}
        rec["exec.n_jobs"] = len(jobs)
        rec["exec.n_stages"] = sum(len(j["stages"]) for j in jobs)
        for key in _STAGE_FIELDS:
            total = sum(s[key] for j in jobs for s in j["stages"])
            rec[key] = total * _SCALE.get(key, 1)
        rec["exec.job_span_s"] = union_s([(j["t0"], j["t1"]) for j in jobs], t0, t1)
        rec.update(self.sql_metrics(before[1], after[1]))
        rec["jobs"] = [{k: j[k] for k in ("job", "t0", "t1")} for j in jobs]
        self.ops.append(rec)
        return rec

    def job_time_in(self, rec: dict, span: dict) -> float:
        """Union of the op's job spans inside one bench span."""
        return union_s([(j["t0"], j["t1"]) for j in rec["jobs"]], span["t0"], span["t1"])

    def dump(self, path: str, **meta) -> None:
        with open(path, "w") as fh:
            json.dump({**meta, "spans": self.spans, "ops": self.ops}, fh)
