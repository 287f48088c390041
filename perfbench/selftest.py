#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (a few minutes on 4 cores):

    python3 perfbench/selftest.py

It checks that

1. every workload prints each end-to-end metric (``--trace 0``) and each
   per-layer metric (``--trace 1``) with its unit, plus the report lines
   under the workload's own metric names; that each traced op's layers
   add up to its traced wall time; and that the bypass predictions hold
   (no Python evaluation outside ``llm_curation``, no output bytes
   outside ``etl_ingest``);
2. a planted wrong expected result is counted as a failed op;
3. another seed reorders the mix but leaves every result unchanged.

Exits 0 when all hold.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402

TINY = run.DATA / "sf0.001"
ROOT = run.HERE / "_work" / "selftest"


def default_workload(name: str, work: Path):
    if name == "etl_ingest":
        return run.EtlIngest(work, seed=1)
    return run.QueryMix(work, run.SQL_MIX if name == "sql_serving" else run.CURATION_MIX, TINY, 1)


def bench(name: str, trace: int, make=default_workload, seed: int = 1):
    """One in-process run at tiny size; returns (report lines, result, workload)."""
    work = ROOT / f"{name}-{trace}-{seed}-{len(list(ROOT.glob('*')))}"
    wl = make(name, work)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        run.bench(argparse.Namespace(workload=name, seed=seed, seconds=0.0, trace=trace), work, wl)
    lines = out.getvalue().splitlines()
    return lines[:-1], json.loads(lines[-1]), wl


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def metrics_and_layers() -> None:
    for name in run.NAMED:
        report, res, _ = bench(name, 0)
        check(res["correct"] and res["failed"] == 0, f"{name}: failed ops {res}")
        units = {k: v["unit"] for k, v in res["metrics"].items()}
        check(units == run.END_TO_END, f"{name}: end-to-end metrics {units}")
        named = {line.split()[1] for line in report if line.startswith("#   ")}
        want = (set(run.NAMED[name]) | set(run.END_TO_END) - {"ok_op_ratio"}
                | {"failed_op_ratio", "host_steal_pct", "setup_wall_s", "round_wall_s"})
        check(want <= named, f"{name}: report lacks {want - named}")

        _, res, _ = bench(name, 1)
        check(res["correct"], f"{name} traced: failed ops {res}")
        units = {k: v["unit"] for k, v in res["metrics"].items()}
        check(units == run.PER_LAYER, f"{name}: per-layer metrics {units}")
        trace = json.loads((run.HERE / "_work" / "traces" / f"{name}-seed1.json").read_text())
        check(len(trace["ops"]) > 0, f"{name}: no traced ops")
        for op in trace["ops"]:
            parts = [op[k] for k in (run.ETL_PARTITION if name == "etl_ingest" else run.QUERY_PARTITION)]
            check(abs(sum(parts) + op["trace.residual_s"] - op["trace.wall_s"]) < 1e-9,
                  f"{name}: layers do not add up to the wall time in {op}")
            check(abs(op["trace.residual_s"]) <= 0.05 * op["trace.wall_s"] + 0.01,
                  f"{name}: unattributed time {op['trace.residual_s']} of {op['trace.wall_s']}")
        m = {k: v["value"] for k, v in res["metrics"].items()}
        if name != "llm_curation":
            check(m["operators.python_eval_s"] == 0, f"{name}: Python evaluation {m}")
        else:
            check(m["operators.python_eval_s"] > 0, f"{name}: no Python evaluation seen {m}")
        if name != "etl_ingest":
            check(m["io.output_bytes"] == 0, f"{name}: output bytes {m}")
        else:
            check(m["io.output_bytes"] > 0 and m["io.files_written"] > 0, f"{name}: nothing written {m}")
        print(f"ok  {name}: metrics, units, layer sums, bypass predictions")


class Planted(run.QueryMix):
    """The SQL mix with one expected result made wrong."""

    def prepare(self) -> None:
        super().prepare()
        cols, rows = self.expected["q02"]
        self.expected["q02"] = (cols, rows[1:])


class Recorded(run.QueryMix):
    """The SQL mix, keeping every op's key and canonical result."""

    seen: list

    def check(self, key: str, result):
        self.seen.append((key, self._canon(*result)))
        return super().check(key, result)


def planted_failure() -> None:
    _, res, _ = bench("sql_serving", 0, lambda n, w: Planted(w, run.SQL_MIX, TINY, 1))
    ratio = res["metrics"]["ok_op_ratio"]["value"]
    check(not res["correct"] and res["failed"] > 0 and ratio < 1, f"planted failure not counted: {res}")
    print(f"ok  planted wrong result: {res['failed']} failed of {res['attempted']}")


def seed_changes_order_only() -> None:
    runs = []
    for seed in (1, 2):
        def make(name, work):
            wl = Recorded(work, run.SQL_MIX, TINY, 1)
            wl.seen = []
            return wl
        _, res, wl = bench("sql_serving", 0, make, seed=seed)
        check(res["correct"], f"seed {seed}: {res}")
        runs.append(wl.seen)
    orders = [[k for k, _ in seen] for seen in runs]
    check(orders[0] != orders[1], "seeds 1 and 2 ran the mix in the same order")
    results = [{} for _ in runs]
    for got, seen in zip(results, runs):
        for key, canon in seen:
            got.setdefault(key, set()).add(json.dumps(canon))
    check(results[0] == results[1] and all(len(v) == 1 for v in results[0].values()),
          "a query returned different results under another order")
    print("ok  another seed changes the order, not the results")


def main() -> int:
    run.ETL_TICKS, run.ETL_DAYS = 10, 3
    try:
        metrics_and_layers()
        planted_failure()
        seed_changes_order_only()
    finally:
        shutil.rmtree(ROOT, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
