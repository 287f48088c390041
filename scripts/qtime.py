#!/usr/bin/env python3
"""Per-query timing/plan harness for optimization iteration (guide §1).

Times individual registry queries with bench.py's exact discipline
(its UDF-worker prime and timed_pass(), warmup pass excluded, min over
N passes) in ONE session, and optionally writes ``.explain("formatted")``
to a file so plan claims are auditable:

    python scripts/qtime.py q368_hits_hubs_authorities q394_label_propagation \
        [--sf LAKE_DIR] [--passes 3] [--explain-dir plans/r11] \
        [--explain-suffix after] [--plan-only]

Timing methodology matches bench.py (count() materialization) so the
numbers are directly comparable to bench_full.json rows. Each pass also
reports how many generated classes it compiled: a "warm" pass that still
compiles is paying codegen, not running the query.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--explain-suffix", default="before")
    ap.add_argument("--noop", action="store_true",
                    help="materialize via the noop sink instead of count()")
    ap.add_argument("--plan-only", action="store_true",
                    help="only write the explain files, skip timing")
    args = ap.parse_args()

    from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY
    from aws_datalake_platform_spark.session import get_spark
    from bench import prime_udf_workers, timed_pass

    spark = get_spark(app_name="qtime",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    prime_udf_workers(spark)

    def materialize(df):
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    results: dict[str, dict] = {}
    for name in args.names:
        spec = QUERY_REGISTRY.get(name)
        if spec is None:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        if args.explain_dir:
            out = Path(args.explain_dir)
            out.mkdir(parents=True, exist_ok=True)
            df = spec.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            (out / f"{name}_{args.explain_suffix}.txt").write_text(plan)
        if args.plan_only:
            print(f"{name}: plan written", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"warmup {name}")
        materialize(spec.fn(spark, args.sf))  # warmup (codegen/JIT)
        runs, compiles = [], []
        for i in range(args.passes):
            spark.sparkContext.setJobDescription(f"{name} pass {i}")
            elapsed, n_compiled = timed_pass(spark, lambda: spec.fn(spark, args.sf), materialize)
            runs.append(round(elapsed, 3))
            compiles.append(n_compiled)
        results[name] = {"min": min(runs), "runs": runs, "compiles": compiles}
        print(f"{name:45s} min={min(runs):7.3f}  runs={runs}  compiles={compiles}", flush=True)

    print(json.dumps(results))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
