"""Degenerate-lake plan/oracle parity probe.

Builds a lake where every table holds the first N rows of the sf0.001
fixtures (N=0: the empty lake the permanent pytest sweep in
tests/test_empty_inputs.py covers; N=1: single-row tables that stress
n-1 variance denominators, singular Fisher matrices, and integer
division), then runs the driver-style DuckDB compare for every
oracle-backed query and prints each divergence.

History at N=1: round 8 found 42 crashes (41 Spark ANSI DIVIDE_BY_ZERO
on undefined n=1 statistics — variance, rank correlations, chi-square
denominators — plus q402's Python ZeroDivisionError) and fixed 31 of
them plus q402 (commits d013d41/ab72321/e647904); the last 11
already-driver-green queries (q169 q208 q211 q212 q228 q240 q247 q248
q250 q268 q282) were deferred to protect the never-sampled gate budget
and fixed at the END of round 9 (re-verified by the r10 gate). A
round-9 sweep at --rows 2 then surfaced the n-2 statistic class the
0/1-row lakes cannot reach (q316 paired se dof, q404 zero-link
P/R/F1, q429 zero-x-variance slope), and a
CONSTANT-lake sweep (--rows 1 --repeat 32: one row duplicated 32x)
surfaced the zero-variance-at-large-n class (q95 F.corr ANSI crash,
q241 log2(1) normalizer, q353 zero variance, q379 zero Fisher
information) — all fixed the same way. Round 10 closed the silent
end of the duplicate-PK class: the 6 artifact queries (q64 q107 q118
q203 q238 q332 — oracle-side per-id dedup vs physical-row engine
semantics on PK-violating input, plus q107's self-loop making the
recursive walk undefined) now load their keyed table through
catalog.load_table_pk, which raises DuplicateKeyError on duplicate or
NULL ids (PK uniqueness is part of the lake contract, SURVEY §7 r9;
`validate-lake` locates offenders, exact dedup q22 repairs them).
Expected output today: 0 divergences at --rows 0, 1, and 2; at
--rows 1 --repeat 32, 0 divergences with exactly those 6 queries
reported as GUARD (the loud contract check firing as designed).

    python scripts/degenerate_probe.py [--rows 1] [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1, help="rows kept per table")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--only", nargs="*", default=None, help="restrict to these query names"
    )
    ap.add_argument(
        "--repeat",
        type=int,
        default=1,
        help="duplicate the kept slice this many times (a CONSTANT lake: "
        "--rows 1 --repeat 32 stresses zero-variance/all-tied statistics "
        "at n large enough to pass the n-1/n-2 dof guards)",
    )
    args = ap.parse_args()

    import pyarrow.parquet as pq

    from aws_datalake_platform_spark.catalog import TESTDATA_TABLES
    from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY
    from aws_datalake_platform_spark.session import get_spark
    from tests.oracle import compare, duckdb_conn

    spark = get_spark()
    dst = tempfile.mkdtemp(prefix=f"degenerate_lake_{args.rows}_")
    for t in TESTDATA_TABLES:
        src = pq.read_table(f"{args.sf}/{t}.parquet")
        import pyarrow as pa

        kept = src.slice(0, args.rows)
        if args.repeat > 1 and kept.num_rows:
            kept = pa.concat_tables([kept] * args.repeat)
        pq.write_table(kept, f"{dst}/{t}.parquet")
    con = duckdb_conn(dst)
    print(
        f"lake: {dst} ({args.rows} rows/table"
        + (f" x{args.repeat} repeats" if args.repeat > 1 else "")
        + ")",
        flush=True,
    )

    from aws_datalake_platform_spark.validation import DuplicateKeyError

    bad = guarded = 0
    for name in sorted(QUERY_REGISTRY):
        spec = QUERY_REGISTRY[name]
        if spec.sql is None:
            continue
        if args.only and name not in args.only:
            continue
        try:
            ok, msg = compare(spec.fn(spark, dst), con, spec.sql)
        except DuplicateKeyError as ex:
            # the loud lake-contract check firing on PK-violating input —
            # the designed outcome for the 6 undefined-semantics queries,
            # not a divergence
            guarded += 1
            print(f"GUARD {name}: {str(ex).splitlines()[0][:150]}", flush=True)
            continue
        except Exception as ex:  # either engine may raise on degenerate input
            ok = False
            msg = f"EXC {type(ex).__name__}: {str(ex).splitlines()[0][:120]}"
        if not ok:
            bad += 1
            print(f"MISMATCH {name}: {msg[:170]}", flush=True)
    print(f"done: {bad} divergences, {guarded} pk-guard rejections", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
