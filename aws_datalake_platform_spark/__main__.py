"""CLI: run registered queries or ad-hoc SQL against a testdata lake.

The serving-surface ergonomics of the reference's Athena console
(reference: README.md:128-132) as a command line:

    python -m aws_datalake_platform_spark list
    python -m aws_datalake_platform_spark run q01_pricing_summary
    python -m aws_datalake_platform_spark run q24_minhash_lsh_dedup \
        --sf-dir /root/testdata/sf0.01 --limit 50 --explain
    python -m aws_datalake_platform_spark sql \
        "SELECT COUNT(*) FROM lineitem" --sf-dir /root/testdata/sf0.001
    python -m aws_datalake_platform_spark expire /lake/events \
        --partition-cols year,month,day --older-than 2025-01-01   # dry-run
    python -m aws_datalake_platform_spark compact /lake/events \
        --partition-cols date --target-bytes 134217728

    python -m aws_datalake_platform_spark validate-lake \
        --sf-dir /root/testdata/sf0.01          # loud primary-key audit
    python -m aws_datalake_platform_spark materialize --index /lake/dedup_idx
    python -m aws_datalake_platform_spark audit --index /lake/dedup_idx
    python -m aws_datalake_platform_spark curate-incremental \
        --state /lake/curation_state --day 3 --of 10

`run --output <dir>` writes the full result as parquet instead of
showing it (the driver-free path to materialize any operator's output).
`expire` is a dry-run listing unless --apply is passed. `materialize`
computes the dedup detector relations once and snapshots them;
`audit` re-aggregates the stored relations (q214/q243/q277/q300 twins,
time-travelable with --version). `curate-incremental` processes one
ingest batch against the stored day-0..N-1 index.
"""

from __future__ import annotations

import argparse
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="aws_datalake_platform_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a registered query")
    runp.add_argument("name")
    runp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--explain", action="store_true", help="print the formatted plan")
    runp.add_argument("--output", help="write full result as parquet to this dir")

    sqlp = sub.add_parser("sql", help="run ad-hoc SQL over the testdata views")
    sqlp.add_argument("statement")
    sqlp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sqlp.add_argument("--limit", type=int, default=20)

    exp = sub.add_parser(
        "expire", help="retention: drop/archive partitions older than a cutoff"
    )
    exp.add_argument("path", help="partitioned parquet lake root")
    exp.add_argument("--partition-cols", required=True,
                     help="comma-separated partition columns, e.g. year,month,day")
    exp.add_argument("--older-than", required=True, help="cutoff date YYYY-MM-DD")
    exp.add_argument("--archive", help="move expired partitions under this root")
    exp.add_argument("--apply", action="store_true",
                     help="actually delete/move (default: dry-run listing)")

    cmp_ = sub.add_parser("compact", help="compact small files per partition")
    cmp_.add_argument("path")
    cmp_.add_argument("--partition-cols", required=True)
    cmp_.add_argument("--target-bytes", type=int, default=128 << 20)

    bf = sub.add_parser(
        "backfill",
        help="plan a backfill: diff expected daily partitions over a date "
        "range against what exists on disk (missing / empty / present)",
    )
    bf.add_argument("path", help="partitioned parquet lake root")
    bf.add_argument("--partition-cols", required=True,
                    help="date (1 col) or year,month,day (3 cols)")
    bf.add_argument("--start", required=True, help="first expected day YYYY-MM-DD")
    bf.add_argument("--end", required=True, help="last expected day YYYY-MM-DD")
    bf.add_argument("--all", action="store_true",
                    help="print present partitions too (default: only gaps)")

    mat = sub.add_parser(
        "materialize",
        help="compute the dedup relations once (MinHash/SimHash/n-gram "
        "pairs + cluster labels) and commit each via the snapshot store",
    )
    mat.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    mat.add_argument("--index", required=True, help="index root directory")

    aud = sub.add_parser(
        "audit",
        help="run the dedup audit queries (q214/q243/q277/q300/q349/q354 twins) "
        "from a materialized index — no detector re-runs",
    )
    aud.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    aud.add_argument("--index", required=True)
    aud.add_argument("--version", type=int, default=None,
                     help="time-travel: audit an older index version")
    aud.add_argument("--limit", type=int, default=20)

    snap = sub.add_parser(
        "snapshots", help="snapshot store: history / time-travel / rollback / expire"
    )
    snap.add_argument("path", help="snapshot table root (with _manifest.json)")
    snap.add_argument("--read", type=int, metavar="V",
                      help="show the table as of version V")
    snap.add_argument("--rollback", type=int, metavar="V",
                      help="commit a new snapshot re-pointing at version V")
    snap.add_argument("--expire-keep", type=int, metavar="N",
                      help="expire all but the newest N snapshots")
    snap.add_argument("--apply", action="store_true",
                      help="with --expire-keep: actually delete (default dry-run)")
    snap.add_argument("--limit", type=int, default=20)

    zm = sub.add_parser(
        "zonemap", help="per-file footer stats + range skip-fraction meter"
    )
    zm.add_argument("path")
    zm.add_argument("--column", required=True)
    zm.add_argument("--lo", help="range predicate lower bound (numeric)")
    zm.add_argument("--hi", help="range predicate upper bound (numeric)")
    zm.add_argument(
        "--string-bounds",
        action="store_true",
        help="treat --lo/--hi as strings even when they look numeric "
        "(zero-padded keys, date strings)",
    )

    smk = sub.add_parser(
        "smoke",
        help="end-to-end smoke check: land raw data, trigger both "
        "pipelines, verify curated rows/partitions, sweep alarms "
        "(the reference runbook's weekly operational checklist)",
    )
    smk.add_argument(
        "--workdir",
        help="lake root for the smoke run (default: a fresh temp dir)",
    )

    cor = sub.add_parser(
        "corpus",
        help="run the corpus curation pipeline (dedup -> optional rule "
        "gate -> quality -> decontaminate -> sample -> snapshot)",
    )
    cor.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    cor.add_argument("--output", help="snapshot-versioned curated output dir")
    cor.add_argument("--quality-threshold", type=float, default=0.5)
    cor.add_argument(
        "--rule-gate",
        action="store_true",
        help="apply the Gopher heuristic rule gate before scoring "
        "(corpus-scaled thresholds)",
    )
    cor.add_argument(
        "--mixture-report",
        action="store_true",
        help="print per-source temperature-0.5 sampling weights of the "
        "final corpus",
    )
    cor.add_argument(
        "--near-dup",
        type=float,
        metavar="J",
        help="also drop MinHash-LSH near-duplicates at Jaccard >= J",
    )
    cor.add_argument(
        "--containment",
        type=float,
        metavar="C",
        help="also drop docs contained in a longer survivor at >= C "
        "(runs after the dedup passes)",
    )
    cor.add_argument(
        "--semantic",
        type=float,
        metavar="T",
        help="also drop SemDeDup semantic near-duplicates at cosine >= T "
        "(learned k-means centroids + vectorized map-side assignment; "
        "joins the embeddings table on vec_id == doc_id)",
    )
    cor.add_argument(
        "--semantic-centroids",
        type=int,
        default=64,
        metavar="K",
        help="cluster count for the SemDeDup coarse quantizer",
    )

    inc = sub.add_parser(
        "curate-incremental",
        help="curate ONE day's batch against the stored day-0..N-1 "
        "index (dedup + optional semantic state); appends survivors' "
        "index rows — prior corpus text is never re-read",
    )
    inc.add_argument("--state", required=True, help="state root directory")
    inc.add_argument(
        "--input",
        help="documents-shaped parquet for the batch (doc_id, text, ...)",
    )
    inc.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    inc.add_argument(
        "--day", type=int, metavar="K",
        help="simulation mode: batch = documents with doc_id %% N == K",
    )
    inc.add_argument(
        "--of", type=int, default=10, metavar="N",
        help="simulation mode: number of day slices (default 10)",
    )
    inc.add_argument(
        "--near-dup", type=float, default=0.5, metavar="J",
        help="MinHash-LSH Jaccard threshold (within-batch AND vs corpus)",
    )
    inc.add_argument(
        "--semantic", type=float, metavar="T",
        help="also run the semantic pass at cosine >= T (embeddings "
        "joined on vec_id == doc_id; centroids train on day 0)",
    )
    inc.add_argument(
        "--semantic-centroids", type=int, default=64, metavar="K",
        help="cluster count for the day-0 coarse quantizer",
    )

    er = sub.add_parser(
        "experiment-report",
        help="one-shot A/B experiment readout: sample-ratio mismatch "
        "gate (q312), CUPED variance-reduced means (q338), decile "
        "quantile treatment effects (q347), assumption-free "
        "permutation p-value (q363), post-stratification design "
        "effect (q360), and the Simpson's-paradox strata guard (q343)",
    )
    er.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    fr = sub.add_parser(
        "forecast-report",
        help="one-shot volume-forecasting readout: randomness gate "
        "(q389 runs test), trend diagnosis (q400 Mann-Kendall + q402 "
        "Poisson growth), seasonality scan (q385 periodogram), and "
        "the rolling backtest that picks the production forecaster "
        "(q397: naive / seasonal-naive / Holt / Holt-Winters)",
    )
    fr.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    dp = sub.add_parser(
        "data-plan",
        help="one-shot training-data plan: domain mixture weights "
        "(q419 DoReMi tilt), DSIR data-selection candidates (q414), "
        "tokenizer merge budget (q421 BPE compression curve), the "
        "scaling-law collect-more-data readout (q429), and the "
        "split-leakage audit that decides the eval split key (q417)",
    )
    dp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    qr = sub.add_parser(
        "quality-report",
        help="one-shot corpus data-quality report: model calibration "
        "(q239) + discrimination (q240), filter agreement (q231), "
        "source x quality independence (q245), and the language-"
        "metadata confusion audit (q242)",
    )
    qr.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    vl = sub.add_parser(
        "validate-lake",
        help="loud lake-contract check: primary-key uniqueness (and "
        "non-null) for every table present. Duplicate ids make six "
        "queries' semantics undefined (q64 q107 q118 q203 q238 q332 — "
        "they also guard their own load path); this command locates "
        "the offending rows before any query runs",
    )
    vl.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    vl.add_argument(
        "--show", type=int, default=5,
        help="print up to N offending key values per failing table",
    )

    srch = sub.add_parser(
        "search",
        help="retrieval over a documents+embeddings snapshot: inverted-"
        "index postings -> BM25 shortlist -> embedding re-score -> MMR "
        "diversified top-k (q196 -> q197 -> q30 -> q202 composed)",
    )
    srch.add_argument("query", help="free-text query, e.g. 'data pipeline quality'")
    srch.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    srch.add_argument("--k", type=int, default=5, help="final diversified picks")
    srch.add_argument(
        "--shortlist", type=int, default=50, help="BM25 candidate pool size"
    )
    srch.add_argument(
        "--lambda", dest="lam", type=float, default=0.7,
        help="MMR relevance/diversity trade-off",
    )
    srch.add_argument(
        "--no-rerank",
        action="store_true",
        help="stop at the BM25 shortlist (skip embedding re-score + MMR)",
    )
    return p


def _validate_lake(spark, sf_dir: str, show: int) -> int:
    """Lake-contract primary-key audit: one fused count/count-distinct
    aggregate per table (column-pruned scan of just the key), then a
    groupBy-count offender listing only for tables that FAIL. lineitem's
    composite key (l_orderkey, l_linenumber) is checked with a two-column
    distinct count. Exit 1 on any violation — the documented repair is
    exact dedup (q22)."""
    import os

    from pyspark.sql import functions as F

    from .catalog import TABLE_PRIMARY_KEYS, load_table
    from .validation import DataValidator

    bad = 0
    for table, key in TABLE_PRIMARY_KEYS.items():
        if not os.path.exists(os.path.join(sf_dir, f"{table}.parquet")):
            continue
        df = load_table(spark, sf_dir, table).select(key)
        report = (
            DataValidator(df, table)
            .expect_column_values_to_be_unique(key)
            .validate()
        )
        det = report["results"][0]["details"]
        if report["success"]:
            print(f"{table}.{key}: ok ({det['total_count']} rows)")
            continue
        bad += 1
        print(
            f"{table}.{key}: FAIL — {det['non_unique_count']} of "
            f"{det['total_count']} rows carry duplicate or NULL keys"
        )
        if show:
            offenders = (
                df.groupBy(key)
                .agg(F.count(F.lit(1)).alias("n_rows"))
                .filter((F.col("n_rows") > 1) | F.col(key).isNull())
                .orderBy(F.desc("n_rows"), key)
                .limit(show)
            )
            for r in offenders.collect():
                print(f"  {key}={r[key]!r}: {r['n_rows']} rows")
    if os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        # INFO only: TPC-H declares (l_orderkey, l_linenumber) as
        # lineitem's key, but the driver-generated testdata does not
        # honor it (sf0.001 carries 1401 duplicate pairs) and no
        # registered query depends on it — so it is reported, never
        # failed, under this lake's contract.
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber"
        )
        row = li.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("l_orderkey", "l_linenumber").alias("nd"),
        ).collect()[0]
        dupes = row["n"] - row["nd"]
        print(
            f"lineitem.(l_orderkey, l_linenumber): info — "
            f"{dupes} of {row['n']} rows share a composite key "
            "(not part of this lake's contract; no query depends on it)"
        )
    print(f"validate-lake: {'FAIL' if bad else 'ok'} ({sf_dir})")
    return 1 if bad else 0


def _section(spark, sf_dir: str, name: str):
    """Rows of one report section's registry query, or None after a skip
    notice. Summary queries return zero rows, or one all-NULL row (a
    global aggregate over an empty relation), on an empty or truncated
    lake; any NULL field breaks the section's format strings, and on a
    real lake these rows are fully populated, so such a section is
    skipped instead of dying on an unpack/format error."""
    from .plans.queries import QUERY_REGISTRY

    rows = QUERY_REGISTRY[name].fn(spark, sf_dir).collect()
    if not rows or any(v is None for v in rows[0].asDict().values()):
        print("  (no data — section skipped)\n")
        return None
    return rows


def _experiment_report(spark, sf_dir: str) -> int:
    """Composite experiment readout over one events snapshot: the gate,
    the estimator, the distributional view, the robustness check, and
    the two validity guards a growth team reads together. Each section
    is an already-certified registry query; empty/truncated lakes
    degrade per-section (the quality-report discipline)."""
    from .plans.queries import QUERY_REGISTRY

    print(f"# Experiment report — {sf_dir}\n")

    print("## Sample-ratio mismatch gate (q312: hash-assignment parity)")
    srm = _section(spark, sf_dir, "q312_srm_check")
    if srm is not None:
        r = srm[0]
        verdict = "SRM DETECTED — stop reading" if r["srm_detected"] else "ok"
        print(
            f"  arms {r['n_a']}/{r['n_b']} of {r['n_total']}  "
            f"chi2 {r['chi2']:.2f}  -> {verdict}\n"
        )

    print("## CUPED variance-reduced revenue (q338: arms by user parity)")
    cuped = _section(spark, sf_dir, "q338_cuped_readout")
    if cuped is not None:
        for r in cuped:
            print(
                f"  arm {r['arm']}  n {r['n_users']:>6}  "
                f"raw {r['mean_post']:>10.2f}  "
                f"cuped {r['mean_post_cuped']:>10.2f}"
            )
        r = cuped[0]
        print(
            f"  theta {r['theta']:.4f}  variance removed "
            f"{100 * r['var_reduction']:.1f}%\n"
        )

    print("## Quantile treatment effects (q347: per-user revenue deciles)")
    qte = _section(spark, sf_dir, "q347_quantile_treatment_effect")
    if qte is not None:
        for r in qte:
            print(
                f"  d{r['decile']}  treated {r['q_treated_cents'] / 100:>9.2f}  "
                f"control {r['q_control_cents'] / 100:>9.2f}  "
                f"qte {r['qte_cents'] / 100:>+8.2f}"
            )
        print()

    print("## Permutation test (q363: 128 md5 label flips)")
    pm = _section(spark, sf_dir, "q363_permutation_test")
    if pm is not None:
        r = pm[0]
        print(
            f"  observed diff {r['observed_diff']:+.2f}  "
            f"p = {r['p_value']:.4f} "
            f"({r['n_extreme']}/{r['n_permutations']} as extreme)\n"
        )

    print("## Post-stratification design effect (q360: activity deciles)")
    de = _section(spark, sf_dir, "q360_poststrat_design_effect")
    if de is not None:
        r = de[0]
        print(
            f"  p_hat {r['p_hat']:.4f}  deff {r['design_effect']:.3f}  "
            f"effective n {r['effective_n']:.0f} of {r['n_users']}\n"
        )

    print("## Simpson's-paradox guard (q343: discount effect by month)")
    sp = QUERY_REGISTRY["q343_simpson_paradox"].fn(spark, sf_dir).collect()
    if sp:
        flips = [r for r in sp if r["sign_agrees"] == 0]
        print(
            f"  aggregate diff {sp[0]['diff_aggregate']:+.4f}; "
            f"{len(flips)}/{len(sp)} strata flip sign"
            + (
                " — pooled numbers are confounded, stratify"
                if flips
                else " — pooled read is safe"
            )
        )
    else:
        print("  (no data — section skipped)")
    return 0


def _forecast_report(spark, sf_dir: str) -> int:
    """Composite volume-forecasting readout: the randomness gate, the
    trend and seasonality diagnoses, and the rolling backtest that
    picks the production forecaster. Each section is an already-
    certified registry query; empty/truncated lakes degrade
    per-section (the quality-report discipline)."""
    print(f"# Volume forecast report — {sf_dir}\n")

    print("## Randomness gate (q389: runs test around the median)")
    rt = _section(spark, sf_dir, "q389_runs_test")
    if rt is not None:
        r = rt[0]
        verdict = (
            "structured — forecasting is worth it"
            if r["reject_random"]
            else "indistinguishable from noise — ship the mean"
        )
        print(
            f"  runs {r['n_runs']} (expected {r['expected_runs']:.1f})  "
            f"z {r['z_stat']:+.2f}  -> {verdict}\n"
        )

    print("## Trend (q400 Mann-Kendall + q402 Poisson growth)")
    mk = _section(spark, sf_dir, "q400_mann_kendall")
    if mk is not None:
        r = mk[0]
        print(
            f"  tau {r['tau']:+.4f}  z {r['z_stat']:+.2f}  "
            + ("monotone trend confirmed" if r["reject_no_trend"] else "no trend")
        )
    glm = _section(spark, sf_dir, "q402_poisson_trend_glm")
    if glm is not None:
        r = glm[0]
        print(
            f"  Poisson growth {100 * r['daily_growth_rate']:+.3f}%/day  "
            f"(z {r['z_stat']:+.2f})\n"
        )

    print("## Seasonality (q385: periodogram scan, periods 2-14d)")
    pg = _section(spark, sf_dir, "q385_periodogram_scan")
    if pg is not None:
        dom = next(r for r in pg if r["dominant"] == 1)
        print(
            f"  dominant period {dom['period']}d carries "
            f"{100 * dom['power_share']:.1f}% of scanned power\n"
        )

    print("## Backtest (q397: rolling one-step, shared eval days)")
    bt = _section(spark, sf_dir, "q397_forecast_backtest")
    champion = None
    if bt is not None:
        for r in sorted(bt, key=lambda r: r["rank"]):
            print(
                f"  #{r['rank']} {r['model']:<13} mae {r['mae']:>8.2f}  "
                f"rmse {r['rmse']:>8.2f}"
            )
        ranked = sorted(bt, key=lambda r: r["rank"])
        champion = ranked[0]
        naive = next((r for r in bt if r["model"] == "naive1"), None)
        if naive is not None and naive["rmse"] > 0:
            gain = 100 * (1 - champion["rmse"] / naive["rmse"])
            print(
                f"  -> ship {champion['model']} "
                f"({gain:+.1f}% rmse vs naive-1)\n"
            )
    return 0


def _data_plan(spark, sf_dir: str) -> int:
    """Composite training-data plan: the mixture a sampler should draw,
    the documents a target-domain selection keeps, the tokenizer merge
    budget, and the split key that avoids dup leakage. Each section is
    an already-certified registry query; empty/truncated lakes degrade
    per-section (the quality-report discipline)."""
    print(f"# Training-data plan — {sf_dir}\n")

    print("## Domain mixture (q419: DoReMi tilt over cross-entropy excess)")
    mx = _section(spark, sf_dir, "q419_domain_mixture_plan")
    if mx is not None:
        up = [r for r in mx if r["mixture_share_pct"] > r["natural_share_pct"]]
        print(f"  {len(mx)} sources; {len(up)} upweighted")
        for r in mx[:5]:
            print(
                f"  {r['source']:<8} natural {r['natural_share_pct']:6.2f}%  "
                f"-> mixture {r['mixture_share_pct']:6.2f}%  "
                f"(excess {r['excess_milli_nats']:+.1f} milli-nats)"
            )
        print()

    print("## Target-domain selection (q414: DSIR importance weights)")
    ds = _section(spark, sf_dir, "q414_dsir_importance_weights")
    if ds is not None:
        print(
            f"  top-{len(ds)} resampling candidates; best doc "
            f"{ds[0]['doc_id']} (avg token LLR "
            f"{ds[0]['avg_token_llr']:+.4f}); selection cut at rank "
            f"{len(ds)} LLR {ds[-1]['avg_token_llr']:+.4f}\n"
        )

    print("## Tokenizer merge budget (q421: BPE compression curve)")
    bp = _section(spark, sf_dir, "q421_bpe_compression_curve")
    if bp is not None:
        for r in bp:
            bar = "#" * int(r["compression_pct"])
            print(
                f"  round {r['merge_round']}: {r['total_symbol_instances']:>10} "
                f"symbols  {r['compression_pct']:5.2f}% {bar}"
            )
        gains = [
            b["compression_pct"] - a["compression_pct"]
            for a, b in zip(bp, bp[1:])
        ]
        if gains and gains[-1] < 0.5 * gains[0]:
            print("  -> marginal gain halved: merge budget near saturation\n")
        else:
            print("  -> curve still steep: raise the merge budget\n")

    print("## Collect more data? (q429: scaling-law fit + 10x extrapolation)")
    sl = _section(spark, sf_dir, "q429_scaling_law_fit")
    if sl is not None:
        last = max(sl, key=lambda r: r["point"])
        print(
            f"  CE {sl[0]['heldout_ce_milli']:.1f} -> "
            f"{last['heldout_ce_milli']:.1f} milli-nats over "
            f"{sl[0]['train_tokens']} -> {last['train_tokens']} tokens;  "
            f"exponent {last['scaling_exponent']:+.4f}"
        )
        gain = last["heldout_ce_milli"] - last["pred_ce_milli_at_10x"]
        verdict = (
            f"10x data buys {gain:.1f} milli-nats — collect more"
            if gain > 1.0
            else "curve is flat — more data barely helps; improve quality instead"
        )
        print(f"  predicted CE at 10x: {last['pred_ce_milli_at_10x']:.1f}  -> {verdict}\n")

    print("## Eval split key (q417: near-dup leakage by split scheme)")
    lk = _section(spark, sf_dir, "q417_split_leakage_audit")
    if lk is not None:
        by = {r["scheme"]: r for r in lk}
        d, c = by.get("by_doc"), by.get("by_cluster")
        if d is not None and c is not None:
            print(
                f"  by_doc     leak {d['leak_rate_pct']:6.2f}%  "
                f"({d['n_cross_pairs']}/{d['n_dup_pairs']} dup pairs cross)"
            )
            print(
                f"  by_cluster leak {c['leak_rate_pct']:6.2f}%  "
                f"({c['n_eval_docs']}/{c['n_docs']} docs in eval)"
            )
            print("  -> split by dedup cluster id (leakage structurally 0)\n")
    return 0


def _quality_report(spark, sf_dir: str) -> int:
    """Composite data-quality report over one corpus snapshot: the five
    monitoring queries a curation team reads together before trusting
    model scores as sampling weights. Each section is an already-
    certified registry query — the CLI only sequences and formats."""
    from .plans.queries import QUERY_REGISTRY

    print(f"# Corpus quality report — {sf_dir}\n")

    print("## Quality model discrimination (q240: ROC AUC vs rule gate)")
    auc = _section(spark, sf_dir, "q240_roc_auc")
    if auc is not None:
        auc = auc[0]
        print(
            f"  AUC {auc['auc']:.4f}  Gini {auc['gini']:.4f}  "
            f"(pos {auc['n_pos']}, neg {auc['n_neg']})\n"
        )

    print("## Calibration by score decile (q239)")
    for r in QUERY_REGISTRY["q239_calibration_brier"].fn(spark, sf_dir).collect():
        print(
            f"  bucket {r['bucket']:>2}  n {r['n_docs']:>6}  "
            f"pred {r['avg_pred']:.3f}  obs {r['obs_rate']:.3f}  "
            f"gap {r['calib_gap']:.3f}  brier {r['brier']:.3f}"
        )

    print("\n## Filter agreement (q231: rule gate vs LM filter, Cohen's kappa)")
    k = _section(spark, sf_dir, "q231_quality_gate_agreement")
    if k is not None:
        k = k[0]
        cols = ", ".join(f"{c}={k[c]}" for c in k.asDict() if c != "n_docs")
        print(f"  n={k['n_docs']}  {cols}\n")

    print("## Source x quality independence (q245: chi-square)")
    c2 = _section(spark, sf_dir, "q245_source_quality_chi2")
    if c2 is not None:
        c2 = c2[0]
        print(
            f"  chi2 {c2['chi2']:.2f}  dof {c2['dof']}  "
            f"Cramer's V {c2['cramers_v']:.4f}\n"
        )

    print("## Language metadata audit (q242: stored lang vs predictor)")
    mism = 0.0
    for r in QUERY_REGISTRY["q242_lang_confusion"].fn(spark, sf_dir).collect():
        flag = "" if r["is_match"] else "  <-- disagrees"
        print(
            f"  {r['lang']:>3} -> {r['lang_pred']:<4} n {r['n_docs']:>6}  "
            f"{r['frac_of_lang']:.3f}{flag}"
        )
        if not r["is_match"]:
            mism += r["n_docs"]
    print(f"  (docs whose predicted language disagrees: {int(mism)})")
    return 0


def _smoke(spark, workdir: str | None) -> int:
    """Operational smoke check mirroring the reference runbook's weekly
    checklist (docs/runbook.md:156-163): raw/ has recent data, curated/
    has recent parquet, partitions are registered and prunable, a sanity
    count query runs, and no alarm is in breach. Exit 0 = all PASS."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .observability import MetricsCollector
    from .pipelines.iot import transform_iot_sensors
    from .pipelines.weather import transform_weather
    from .sources.io import write_ndjson
    from .sources.synthetic import (
        iot_readings,
        open_meteo_like_response,
        weather_raw_from_responses,
    )

    lake = workdir or tempfile.mkdtemp(prefix="smoke-lake-")
    cleanup = workdir is None
    checks: list[tuple[str, bool, str]] = []

    def check(name: str, ok: bool, detail: str = "") -> None:
        checks.append((name, ok, detail))
        print(f"[{'PASS' if ok else 'FAIL'}] {name}" + (f" — {detail}" if detail else ""))

    try:
        metrics = MetricsCollector(spark)
        # 1. land raw data (the ingest lambdas' output shape)
        raw_iot = iot_readings(spark, sensors_per_city=2, ticks=2).withColumn(
            "date", F.substring("timestamp", 1, 10)
        )
        write_ndjson(raw_iot, f"{lake}/raw/iot-sensors", ["date"])
        cities = [{"name": "Tokyo", "latitude": 35.68, "longitude": 139.69}]
        raw_weather = weather_raw_from_responses(
            spark,
            [(c, open_meteo_like_response(c, "2026-01-05")) for c in cities],
            "smoke-run",
            "2026-01-05T06:00:00+00:00",
        )
        import glob as _glob

        raw_files = _glob.glob(f"{lake}/raw/iot-sensors/date=*/part-*")
        check("raw zone has recent data", len(raw_files) > 0, f"{len(raw_files)} files")

        # 2. trigger both pipelines (the Glue-transform analogues)
        iot_res = transform_iot_sensors(
            spark,
            raw_path=f"{lake}/raw/iot-sensors",
            curated_path=f"{lake}/curated/sensor-readings",
            metrics=metrics,
        )
        weather_res = transform_weather(
            spark,
            raw_df=raw_weather,
            curated_path=f"{lake}/curated/weather",
            metrics=metrics,
        )
        check("iot pipeline ran + validated", bool(iot_res and iot_res["success"]))
        check("weather pipeline ran + validated", bool(weather_res and weather_res["success"]))

        # 3. curated zone: parquet exists, partitions registered/prunable.
        # A failed pipeline leaves this path missing or empty — that must
        # surface as FAIL lines + exit 1, never as a traceback that skips
        # the checklist summary (r4 review finding).
        for tbl in ("sensor-readings", "weather"):
            try:
                cur = spark.read.parquet(f"{lake}/curated/{tbl}")
                n = cur.count()
                parts = [r["date"] for r in cur.select("date").distinct().collect()]
                check(
                    f"curated/{tbl} row count",
                    n > 0,
                    f"{n} rows, {len(parts)} partition(s)",
                )
                if parts:
                    pruned = cur.filter(F.col("date") == parts[0]).count()
                    check(
                        f"curated/{tbl} partition pruning",
                        0 < pruned <= n,
                        f"date={parts[0]}: {pruned}",
                    )
                else:
                    check(f"curated/{tbl} partition pruning", False, "no partitions")
            except Exception as exc:  # noqa: BLE001 — any read failure is a FAIL
                check(f"curated/{tbl} row count", False, repr(exc)[:120])
                check(f"curated/{tbl} partition pruning", False, "unreadable")

        # 4. sanity query (the Athena COUNT-by-date analogue)
        try:
            spark.read.parquet(
                f"{lake}/curated/sensor-readings"
            ).createOrReplaceTempView("curated_sensor_readings")
            sanity = spark.sql(
                "SELECT COUNT(*) AS n FROM curated_sensor_readings WHERE date = "
                "(SELECT MAX(date) FROM curated_sensor_readings)"
            ).first()["n"]
            check("sanity count query", sanity > 0, f"{sanity} rows on latest date")
        except Exception as exc:  # noqa: BLE001
            check("sanity count query", False, repr(exc)[:120])

        # 5. alarm sweep (the CloudWatch-alarms dashboard analogue).
        # Freshness (input_records > 0) is only meaningful for the
        # file-backed iot job: the weather leg reads an in-memory frame,
        # whose stages legitimately report zero file-source input rows.
        bad = metrics.breaches(lambda r: r["status"] != "ok")
        bad += metrics.breaches(
            lambda r: r["name"] == "transform_iot_sensors"
            and r.get("input_records", 0) == 0
        )
        check("no alarms in breach", not bad, f"{len(bad)} breach(es)")
    finally:
        if cleanup:
            shutil.rmtree(lake, ignore_errors=True)

    failed = [c for c in checks if not c[1]]
    print(f"smoke: {len(checks) - len(failed)}/{len(checks)} checks passed")
    return 1 if failed else 0


def _search(spark, sf_dir, query_text, k, shortlist, lam, no_rerank) -> int:
    """Retrieval composed end-to-end from the engine's own operators —
    the `corpus` command's counterpart for the read path:

      1. tokenize the free-text query; BM25-score its terms against the
         documents table (q197's exact shape: term filter BEFORE the tf
         aggregate, broadcast df/stats) and SUM per doc -> shortlist
      2. pseudo-relevance query vector (Rocchio): mean embedding of the
         top-3 BM25 docs (bounded 3-row collect) — there is no text
         encoder in the engine, so the embedding-space query point comes
         from the lexical stage's best hits
      3. exact cosine re-score of the shortlist against that vector
         (map-side: the vector rides the plan as a literal array)
      4. MMR diversified top-k (q202's operator) so near-duplicate
         passages don't crowd the result list

    Scale: only query-term postings shuffle (|terms| x df rows); the
    shortlist bounds every later stage (n^2 pairs on `shortlist` rows,
    per query constant), so the flow costs one corpus token scan + one
    embedding scan no matter the corpus size."""
    import re

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .catalog import load_table
    from .functions.core import round_half_up
    from .operators.similarity import cosine, mmr_over_candidates

    terms = [t for t in re.split(r"\s+", query_text.strip().lower()) if t]
    if not terms:
        print("empty query", file=sys.stderr)
        return 2
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("toks"))
    dl = tok.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        tok.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = 1.2, 0.75
    per_term = (
        tf.join(F.broadcast(df_rel), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
                * F.col("tf") * (k1 + 1)
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
    )
    short = (
        per_term.groupBy("doc_id")
        .agg(round_half_up(F.sum("s"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(shortlist)
    )
    if no_rerank:
        hits = short.join(docs.select("doc_id", "text"), "doc_id").orderBy(
            F.desc("bm25"), F.asc("doc_id")
        )
        for r in hits.limit(k).collect():
            print(f"{r['doc_id']:>8}  bm25={r['bm25']:<10} {r['text'][:80]!r}")
        return 0

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    seed_rows = (
        short.limit(3).join(emb, "doc_id").select("embedding").collect()
    )  # bounded: 3 rows
    if not seed_rows:
        print("no shortlist docs have embeddings; rerun with --no-rerank",
              file=sys.stderr)
        return 1
    dim = len(seed_rows[0]["embedding"])
    qvec = [
        sum(float(r["embedding"][d]) for r in seed_rows) / len(seed_rows)
        for d in range(dim)
    ]
    cand_emb = short.join(emb, "doc_id")
    cand = cand_emb.select(
        F.lit(0).alias("query_id"),
        F.col("doc_id").alias("neighbor_id"),
        F.round(
            cosine(F.col("embedding"), F.array(*[F.lit(x) for x in qvec])), 6
        ).alias("rel"),
    )
    corpus = cand_emb.select(F.col("doc_id").alias("vec_id"), "embedding")
    picked = mmr_over_candidates(cand, corpus, k=k, lam=lam)
    out = (
        picked.join(docs.select(F.col("doc_id").alias("neighbor_id"), "text"),
                    "neighbor_id")
        .orderBy("pick_rank")
        .select("pick_rank", "neighbor_id", "rel", "mmr_score", "text")
    )
    for r in out.collect():
        print(
            f"#{r['pick_rank']}  doc={r['neighbor_id']:<6} rel={r['rel']:<9} "
            f"mmr={r['mmr_score']:<9} {r['text'][:70]!r}"
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from .plans.queries import QUERY_REGISTRY

    if args.cmd == "list":
        for name in sorted(QUERY_REGISTRY):
            spec = QUERY_REGISTRY[name]
            kind = "sql-oracle" if spec.sql else "rows-only"
            print(f"{name}  [{kind}]  {spec.doc.splitlines()[0] if spec.doc else ''}")
        return 0

    from .catalog import register_testdata
    from .session import get_spark

    spark = get_spark("cli")
    if args.cmd == "smoke":
        return _smoke(spark, args.workdir)
    if args.cmd == "experiment-report":
        return _experiment_report(spark, args.sf_dir)
    if args.cmd == "forecast-report":
        return _forecast_report(spark, args.sf_dir)
    if args.cmd == "quality-report":
        return _quality_report(spark, args.sf_dir)
    if args.cmd == "data-plan":
        return _data_plan(spark, args.sf_dir)
    if args.cmd == "validate-lake":
        return _validate_lake(spark, args.sf_dir, args.show)
    if args.cmd == "search":
        return _search(
            spark, args.sf_dir, args.query, args.k, args.shortlist,
            args.lam, args.no_rerank,
        )
    if args.cmd == "corpus":
        from .catalog import load_table
        from .pipelines.corpus import curate_corpus

        gate = (
            {
                "min_words": 20,
                "max_words": 1000,
                "stopwords": ("the", "a", "of", "and", "to", "in"),
            }
            if args.rule_gate
            else None
        )
        emb = None
        if args.semantic is not None:
            from pyspark.sql import functions as F

            emb = load_table(spark, args.sf_dir, "embeddings").select(
                F.col("vec_id").alias("doc_id"), "embedding"
            )
        res = curate_corpus(
            spark,
            load_table(spark, args.sf_dir, "documents"),
            out_path=args.output,
            quality_threshold=args.quality_threshold,
            rule_gate=gate,
            report_mixture=args.mixture_report,
            near_dup_threshold=args.near_dup,
            containment_threshold=args.containment,
            embeddings=emb,
            semantic_threshold=args.semantic,
            semantic_n_centroids=args.semantic_centroids,
        )
        for key in (
            "n_raw",
            "n_before_semantic",
            "n_after_dedup",
            "n_after_rules",
            "n_after_quality",
            "n_after_decontam",
            "n_final",
            "drop_fraction",
        ):
            if res.get(key) is not None:
                print(f"{key}: {res[key]}")
        if args.mixture_report:
            for src, row in sorted(res["mixture_report"].items()):
                print(
                    f"mixture {src}: weight={row['mix_weight']} "
                    f"docs={row['n_docs']} tokens={row['n_tokens']}"
                )
        if args.output:
            print(f"snapshot_version: {res['snapshot_version']}")
        return 0
    if args.cmd == "run":
        if args.name not in QUERY_REGISTRY:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        df = QUERY_REGISTRY[args.name].fn(spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(f"wrote {args.output}")
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "expire":
        from .operators.maintenance import expire_partitions

        report = expire_partitions(
            spark,
            args.path,
            args.partition_cols.split(","),
            older_than=args.older_than,
            dry_run=not args.apply,
            archive_path=args.archive,
        )
        for row in report:
            print(row)
        print(f"{len(report)} partition(s) {'affected' if args.apply else 'would expire'}")
        return 0

    if args.cmd == "backfill":
        from .operators.maintenance import plan_backfill

        plan = plan_backfill(
            args.path, args.partition_cols.split(","), args.start, args.end
        )
        gaps = [r for r in plan if r["status"] != "present"]
        for r in plan if args.all else gaps:
            print(f"{r['date']}  {r['status']:8s} {r['partition']}"
                  + (f"  ({r['n_files']} files)" if r["status"] == "present" else ""))
        print(
            f"{len(plan)} expected day(s): "
            f"{len(plan) - len(gaps)} present, "
            f"{sum(1 for r in gaps if r['status'] == 'missing')} missing, "
            f"{sum(1 for r in gaps if r['status'] == 'empty')} empty"
        )
        return 1 if gaps else 0

    if args.cmd == "compact":
        from .operators.maintenance import compact_partitions

        pre = compact_partitions(
            spark, args.path, args.partition_cols.split(","), args.target_bytes
        )
        for part, (n, b) in sorted(pre.items()):
            print(f"{part}: {n} files, {b} bytes (pre-compaction)")
        return 0

    if args.cmd == "zonemap":
        from .operators.maintenance import files_skipped_by_range, zone_maps

        def _bound(s: str):
            # r3 advisor: a blind float() cast broke string/date columns
            # (TypeError inside the stat comparison or silent mis-compare).
            # Parse numerics when they look numeric, else pass the raw
            # string through — files_skipped_by_range type-checks against
            # the footer stats and raises a usable error on a mismatch.
            # --string-bounds escapes the coercion for string columns
            # whose values LOOK numeric (zero-padded keys — r4 review).
            if args.string_bounds:
                return s
            for cast in (int, float):
                try:
                    return cast(s)
                except ValueError:
                    continue
            return s

        if args.lo is not None and args.hi is not None:
            print(
                files_skipped_by_range(
                    args.path, args.column, _bound(args.lo), _bound(args.hi)
                )
            )
        else:
            for m in zone_maps(args.path, [args.column]):
                print(m)
        return 0

    if args.cmd == "curate-incremental":
        from pyspark.sql import functions as F

        from .catalog import load_table
        from .pipelines.incremental import curate_incremental

        if args.input:
            batch = spark.read.parquet(args.input)
        elif args.day is not None:
            batch = load_table(spark, args.sf_dir, "documents").filter(
                F.col("doc_id") % args.of == args.day
            )
        else:
            print("need --input PATH or --day K (simulation slice)",
                  file=sys.stderr)
            return 2
        emb = None
        if args.semantic is not None:
            emb = load_table(spark, args.sf_dir, "embeddings").select(
                F.col("vec_id").alias("doc_id"), "embedding"
            )
        rep = curate_incremental(
            spark, batch, args.state,
            batch_embeddings=emb,
            semantic_threshold=args.semantic,
            near_dup_threshold=args.near_dup,
            n_centroids=args.semantic_centroids,
        )
        for key in (
            "n_batch", "bootstrap", "n_after_batch_exact",
            "n_after_batch_near", "n_corpus_exact_dup", "n_corpus_near_dup",
            "n_after_corpus_dedup", "n_semantic_dup", "n_final",
            "dedup_index_version", "semantic_index_version",
        ):
            if key in rep:
                print(f"{key}: {rep[key]}")
        return 0

    if args.cmd == "materialize":
        from .pipelines.audit_index import materialize_dedup_index

        report = materialize_dedup_index(spark, args.sf_dir, args.index)
        for table, info in report.items():
            print(f"{table}: version {info['version']}  rows {info['n_rows']}")
        return 0

    if args.cmd == "audit":
        from .pipelines.audit_index import FROM_INDEX_AUDITS

        for name, fn in FROM_INDEX_AUDITS.items():
            print(f"## {name} (from index)")
            fn(spark, args.sf_dir, args.index, args.version).show(
                args.limit, truncate=False
            )
        return 0

    if args.cmd == "snapshots":
        from .operators import snapshots as snapmod

        if args.rollback is not None:
            v = snapmod.rollback(args.path, args.rollback)
            print(f"rolled back to {args.rollback} as new version {v}")
        if args.expire_keep is not None:
            report = snapmod.expire_snapshots(
                args.path, keep_last=args.expire_keep, dry_run=not args.apply
            )
            print(report)
        if args.read is not None:
            snapmod.read_snapshot(spark, args.path, args.read).show(
                args.limit, truncate=False
            )
        if args.rollback is None and args.expire_keep is None and args.read is None:
            for s in snapmod.list_snapshots(args.path):
                print(s)
        return 0

    # sql
    register_testdata(spark, args.sf_dir)
    spark.sql(args.statement).show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
