#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads, every output checked.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

One client drives the engine in a closed loop on ``local[nproc]``: the next
op starts when the previous one has returned and been checked.

* ``etl_ingest``   -- one op is ``transform_iot_sensors`` + ``transform_weather``
  from seeded raw NDJSON into a fresh curated Parquet directory.
* ``sql_serving``  -- one op is one query of the SQL mix, result collected.
* ``llm_curation`` -- one op is one query of the dedup/similarity mix.

A run builds a session (timed as set-up), prepares its inputs and
expected outputs, runs a few untimed warm-up rounds of the mix, then
measures whole rounds (the seed sets the order of each round) until the
ops have taken ``--seconds``. Each op is timed in wall seconds (less the
hypervisor's steal) and in CPU seconds of the engine's processes. Every
op's output is checked outside its timing: query results against their
DuckDB oracle, ETL output against the raw zone. ``--trace 1`` measures
half the rounds untraced and half traced and prints per-layer metrics
instead; see README.md for what each layer metric is predicted to move.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import inputs  # noqa: E402
from tracing import Tracer  # noqa: E402

DATA = HERE / "data"
SQL_MIX = ["q01", "q02", "q03", "q05", "q06", "q10", "q12", "q15", "q55", "q125", "q128", "q133"]
CURATION_MIX = ["q24", "q59", "q411", "q23", "q68", "q30", "q202", "q111"]
ETL_TICKS, ETL_DAYS = 200, 30  # 8 cities x 25 sensors x 200 ticks = 40k IoT rows

# The result line's metrics: the ones a change is judged on. Wall times
# are given less the share the hypervisor stole (``unstolen``): on a
# shared host, steal by other guests moved raw op wall times by up to
# 1.8x between runs minutes apart. The report lines add the rest (WALL).
END_TO_END = {
    "setup_s": "s",
    "setup_cpu_s": "s",
    "round_s": "s",
    "round_cpu_s": "s",
    "ok_op_ratio": "ratio",
    "peak_rss_mb": "MB",
}
WALL = {"op_s_p50": "s", "op_s_p90": "s", "round_s": "s", "ops_per_s": "1/s", "rows_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_prime_s": "s",
    "io.json_scan_s": "s",
    "io.input_bytes": "bytes",
    "io.input_records": "count",
    "validation.validate_s": "s",
    "validation.n_jobs": "count",
    "functions.curate_s": "s",
    "io.write_s": "s",
    "io.output_bytes": "bytes",
    "io.files_written": "count",
    "io.out_bytes_per_in_byte": "ratio",
    "plans.build_s": "s",
    "plans.optimize_s": "s",
    "exec.n_jobs": "count",
    "exec.n_stages": "count",
    "exec.n_tasks": "count",
    "exec.job_span_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.driver_residual_s": "s",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "operators.python_eval_s": "s",
    "operators.arrow_bytes_to_python": "bytes",
    "operators.arrow_bytes_from_python": "bytes",
    "result.rows": "count",
    "trace.wall_s": "s",
    "trace.residual_s": "s",
    "trace.overhead_s": "s",
}
# Layers whose self times partition a traced op's wall time, per workload
# kind; trace.residual_s is the wall time they leave unexplained.
ETL_PARTITION = ["io.json_scan_s", "validation.validate_s", "functions.curate_s", "io.write_s"]
QUERY_PARTITION = ["plans.build_s", "plans.optimize_s", "exec.job_span_s", "exec.driver_residual_s"]


T_START = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def host_env(work: Path) -> int:
    """Size the session for this host through the engine's environment
    knobs: all usable cores, an eighth of RAM for the Spark driver (1-8 GiB),
    and every scratch file inside ``work``. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(8, mem_kib // (8 * 2**20)))}g",
        SPARK_LOCAL_DIRS=str(tmp),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    return cpus


def start_session(work: Path):
    from aws_datalake_platform_spark.session import get_spark

    tmp = work / "tmp"
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine() -> None:
    """Stop the session and end the driver JVM and every process under it
    (its Python UDF workers), then wait until each has ended. PySpark
    leaves the JVM running after ``spark.stop()`` until this process
    exits, and it ends only after that, so a run would outlive itself.
    Safe to call more than once and when no session was started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    tree = _started(proc_tree(proc.pid))
    try:
        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception as ex:  # noqa: BLE001 — the JVM is ended below either way
        log(f"session stop failed: {type(ex).__name__}: {ex}")
    tree.update(_started(proc_tree(proc.pid)))
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001
        pass
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM's gateway server exits at EOF on its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # Workers the JVM started are not this process's children: poll them.
    deadline = time.monotonic() + 10
    while True:
        alive = [pid for pid, start in tree.items() if _running(pid, start)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def _started(tree: dict[int, list[str]]) -> dict[int, str]:
    """Start time of each process of a ``proc_tree``, which tells it from a
    later process that reuses its pid."""
    return {pid: fields[19] for pid, fields in tree.items()}


def _running(pid: int, start: str) -> bool:
    try:
        fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and fields[19] == start


def prime_workers(spark, cpus: int) -> None:
    """Start one Python UDF worker per core, as a UDF query would."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 10_000, 1, cpus).select(ident(F.col("id")).alias("x")).agg(F.max("x")).collect()


def duckdb_conn(work: Path):
    import duckdb

    return _scratch(duckdb.connect(), work)


def _scratch(con, work: Path):
    con.execute(f"SET temp_directory = '{work / 'tmp' / 'duckdb'}'")
    return con


# ── workloads ────────────────────────────────────────────────────────────────


class QueryMix:
    """A fixed mix of registered queries over one test lake; each result
    is collected and compared with the query's DuckDB oracle.

    The lakes under ``data/`` are byte-identical copies of the seed-42
    test lakes that TESTDATA.md describes (``data/SHA256SUMS``), kept here
    so a run reads nothing outside its checkout. The run's seed sets the
    order of the mix."""

    partition = QUERY_PARTITION

    def __init__(self, work: Path, ids: list[str], tables: Path, warm_rounds: int):
        self.work, self.ids, self.tables, self.warm_rounds = work, ids, str(tables), warm_rounds
        self.extra: dict[str, float] = {}

    def bind(self, spark) -> None:
        from aws_datalake_platform_spark.plans import QUERY_REGISTRY

        self.spark = spark
        by_id = {name.split("_")[0]: name for name in QUERY_REGISTRY}
        self.specs = {i: QUERY_REGISTRY[by_id[i]] for i in self.ids}

    def prepare(self) -> None:
        """Canonical oracle rows for every query of the mix."""
        from tests.oracle import canonical_rows, duckdb_conn as oracle_conn

        self._canon = canonical_rows
        con = _scratch(oracle_conn(self.tables), self.work)
        self.expected = {}
        for i, spec in self.specs.items():
            res = con.execute(spec.sql)
            self.expected[i] = canonical_rows([d[0] for d in res.description], res.fetchall())
        con.close()

    def run(self, key: str, tracer: Tracer | None):
        spec = self.specs[key]
        if tracer is None:
            df = spec.fn(self.spark, self.tables)
            return df.columns, df.collect()
        with tracer.span("plans.build"):
            df = spec.fn(self.spark, self.tables)
        with tracer.span("plans.optimize"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec.collect"):
            rows = df.collect()
        return df.columns, rows

    def check(self, key: str, result) -> str | None:
        cols, rows = result
        got = self._canon(cols, [tuple(r) for r in rows])
        want = self.expected[key]
        if got[0] != want[0]:
            return f"{key}: columns {got[0]} != oracle {want[0]}"
        if got[1] != want[1]:
            return f"{key}: {len(got[1])} rows differ from the oracle's {len(want[1])}"
        return None

    def rows(self, result) -> int:
        return len(result[1])

    def layers(self, tracer: Tracer, rec: dict, spans: list[dict]) -> None:
        self_s = {}
        for s in spans:
            if s["name"] in ("plans.build", "plans.optimize"):
                self_s[s["name"] + "_s"] = s["t1"] - s["t0"] - tracer.job_time_in(rec, s)
        rec.update(self_s)
        rec["exec.driver_residual_s"] = rec["trace.wall_s"] - rec["exec.job_span_s"] - sum(self_s.values())


class EtlIngest:
    """The reference pipeline: raw NDJSON -> validate -> pseudonymize and
    derive -> date-partitioned snappy Parquet, for IoT and weather."""

    ids = ["etl"]
    partition = ETL_PARTITION
    warm_rounds = 2  # one op per round
    # The rule sets of pipelines/iot.py and pipelines/weather.py, used to
    # build the expected validation summaries from DuckDB counts.
    RULES = {
        "iot": ("raw_iot_sensors", [
            ("null", "sensor_id"), ("null", "city"), ("null", "timestamp"), ("null", "temperature_c"),
            ("between", "temperature_c", -50.0, 60.0), ("between", "humidity_pct", 0.0, 100.0),
            ("between", "aqi", 0.0, 500.0), ("between", "battery_level", 0.0, 100.0), ("rows", 0),
        ]),
        "weather": ("raw_weather", [
            ("null", "city"), ("null", "timestamp"), ("null", "temperature_c"),
            ("between", "temperature_c", -90.0, 60.0), ("between", "humidity_pct", 0.0, 100.0),
            ("rows", 0),
        ]),
    }

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.raw_dir = work / "raw"
        self.out_dir = work / "curated"
        self.n_ops = 0
        self.extra = {"io.out_bytes_per_in_byte": 0.0}

    def bind(self, spark) -> None:
        from aws_datalake_platform_spark.catalog import RAW_IOT_SENSORS, RAW_WEATHER
        from aws_datalake_platform_spark.pipelines import iot, weather

        self.spark = spark
        self.schemas = {"iot": RAW_IOT_SENSORS, "weather": RAW_WEATHER}
        self.steps = {"iot": (iot.validate_iot, iot.curate_iot),
                      "weather": (weather.validate_weather, weather.curate_weather)}
        self.transforms = {"iot": iot.transform_iot_sensors, "weather": weather.transform_weather}
        self.raw = {"iot": str(self.raw_dir / "iot-sensors"), "weather": str(self.raw_dir / "weather")}

    def _raw_sql(self, name: str) -> str:
        cols = {f.name: "VARCHAR" if f.dataType.simpleString() == "string" else "DOUBLE"
                for f in self.schemas[name].fields}
        return (f"read_json('{self.raw[name]}/*/*.json', columns={cols}, "
                "format='newline_delimited', hive_partitioning=false)")

    def prepare(self) -> None:
        """Land the raw zone and derive the expected outputs from it with
        DuckDB."""
        inputs.write_raw_etl(self.spark, str(self.raw_dir), self.seed, ETL_TICKS, ETL_DAYS)
        log("raw zone written")
        con = self.con = duckdb_conn(self.work)
        con.execute(f"CREATE TABLE raw_iot AS SELECT * FROM {self._raw_sql('iot')}")
        con.execute(f"CREATE TABLE raw_weather AS SELECT * FROM {self._raw_sql('weather')}")
        con.execute(
            "CREATE TABLE iot_keys AS SELECT sha256(sensor_id) AS h, city, timestamp FROM raw_iot"
        )
        self.n_raw = {n: con.execute(f"SELECT count(*) FROM raw_{n}").fetchone()[0] for n in self.RULES}
        self.summaries = {n: self._expected_summary(n) for n in self.RULES}
        self.raw_bytes = _du(self.raw_dir)

    def _expected_summary(self, name: str) -> dict:
        dataset, rules = self.RULES[name]
        total = self.n_raw[name]
        results = []
        for rule in rules:
            if rule[0] == "null":
                n = self.con.execute(f"SELECT count(*) FROM raw_{name} WHERE {rule[1]} IS NULL").fetchone()[0]
                results.append({"expectation_type": "expect_column_values_to_not_be_null", "success": n == 0,
                                "details": {"column": rule[1], "null_count": n, "total_count": total}})
            elif rule[0] == "between":
                _, col, lo, hi = rule
                n = self.con.execute(
                    f"SELECT count(*) FROM raw_{name} WHERE {col} < {lo} OR {col} > {hi}").fetchone()[0]
                results.append({"expectation_type": "expect_column_values_to_be_between", "success": n == 0,
                                "details": {"column": col, "min": lo, "max": hi,
                                            "out_of_range_count": n, "total_count": total}})
            else:
                results.append({"expectation_type": "expect_table_row_count_to_be_greater_than",
                                "success": total > rule[1],
                                "details": {"row_count": total, "min_expected": rule[1]}})
        passed = sum(r["success"] for r in results)
        return {"dataset": dataset, "expectations_evaluated": len(results), "expectations_passed": passed,
                "expectations_failed": len(results) - passed, "success": passed == len(results),
                "results": results}

    def run(self, key: str, tracer: Tracer | None):
        out = self.out_dir / f"op{self.n_ops}"
        self.n_ops += 1
        if tracer is None:
            return out, {n: fn(self.spark, self.raw[n], str(out / n)) for n, fn in self.transforms.items()}
        return out, {n: self._traced_pipeline(tracer, n, *self.steps[n], str(out / n)) for n in self.steps}

    def _traced_pipeline(self, tracer: Tracer, name: str, validate, curate, out: str) -> dict:
        """transform_* step by step, one span per public call."""
        from aws_datalake_platform_spark.sources.io import read_ndjson, write_curated_parquet

        with tracer.span("io.read", dataset=name):
            raw = read_ndjson(self.spark, self.raw[name], schema=self.schemas[name])
            if raw.isEmpty():
                raise RuntimeError(f"raw {name} zone is empty")
        with tracer.span("validation.validate", dataset=name):
            summary = validate(raw)
        with tracer.span("functions.curate", dataset=name):
            curated = curate(raw)
        with tracer.span("io.write", dataset=name):
            write_curated_parquet(curated, out, ["date"])
        return summary

    def check(self, key: str, result) -> str | None:
        out, summaries = result
        try:
            for name in self.RULES:
                if summaries[name] != self.summaries[name]:
                    return f"{name}: validation summary {summaries[name]} != expected {self.summaries[name]}"
                n = self.con.execute(
                    f"SELECT count(*) FROM read_parquet('{out}/{name}/*/*.parquet')").fetchone()[0]
                if n != self.n_raw[name]:
                    return f"{name}: {n} curated rows != {self.n_raw[name]} raw rows"
            cur = f"(SELECT sensor_id_hash AS h, city, timestamp FROM read_parquet('{out}/iot/*/*.parquet'))"
            diff = self.con.execute(
                f"SELECT (SELECT count(*) FROM ({cur} EXCEPT ALL SELECT * FROM iot_keys)) + "
                f"(SELECT count(*) FROM (SELECT * FROM iot_keys EXCEPT ALL {cur}))").fetchone()[0]
            if diff:
                return f"iot: {diff} rows whose sensor_id_hash is not sha256(sensor_id)"
            self.extra["io.out_bytes_per_in_byte"] = _du(out) / self.raw_bytes
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def rows(self, result) -> int:
        return sum(self.n_raw.values())

    def layers(self, tracer: Tracer, rec: dict, spans: list[dict]) -> None:
        """Split each write span with two noop-sink probes run after the op:
        the scan alone, and the scan plus curation."""
        from aws_datalake_platform_spark.sources.io import read_ndjson

        dur = defaultdict(float)
        for s in spans:
            dur[s["name"]] += s["t1"] - s["t0"]
        rec["validation.n_jobs"] = sum(
            1 for j in rec["jobs"] for s in spans
            if s["name"] == "validation.validate" and s["t0"] <= j["t0"] <= s["t1"])
        scan = curate = 0.0
        for name, (_, curate_fn) in self.steps.items():
            raw = read_ndjson(self.spark, self.raw[name], schema=self.schemas[name])
            scan += _noop_s(raw)
            curate += _noop_s(curate_fn(raw))
        rec["io.json_scan_s"] = dur["io.read"] + scan
        rec["functions.curate_s"] = dur["functions.curate"] + curate - scan
        rec["io.write_s"] = dur["io.write"] - curate
        rec["validation.validate_s"] = dur["validation.validate"]
        rec["exec.driver_residual_s"] = rec["trace.wall_s"] - rec["exec.job_span_s"]


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _du(path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file() and not f.name.startswith("."))


def make_workload(name: str, work: Path, seed: int):
    # Warm-up rounds trade steadiness for run length. On a 4-vCPU host an
    # SQL round fell from 13.1 s to 10.2 and 8.6 s over three rounds, and
    # a curation round from 17.1 s to 12.2 and 10.8 s: most of the fall
    # is between the first round and the second, and a run must stay near
    # one minute.
    if name == "etl_ingest":
        return EtlIngest(work, seed)
    if name == "sql_serving":
        return QueryMix(work, SQL_MIX, DATA / "sf0.1", warm_rounds=1)
    if name == "llm_curation":
        # On sf0.1 this mix's DuckDB oracles alone take about 66 s and a
        # warm round 30-45 s, so a run would take about 160 s.
        return QueryMix(work, CURATION_MIX, DATA / "sf0.01", warm_rounds=1)
    raise SystemExit(f"unknown workload {name!r}")


# ── measurement ──────────────────────────────────────────────────────────────


class Window:
    """Latencies, CPU costs, row counts and failures of the ops run in one
    window."""

    def __init__(self):
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.net: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self.busy = 0.0
        self.rows = 0
        self.attempted = 0
        self.errors: list[str] = []

    def all_net(self) -> list[float]:
        return [x for v in self.net.values() for x in v]

    # One round of the mix: the sum over its ops of each op's fastest
    # time in the window. Noise from other load only ever adds time, so
    # the least of a few samples moves less between runs than their median.
    def round_s(self) -> float:
        return sum(min(v) for v in self.net.values())

    def round_wall_s(self) -> float:
        return sum(min(v) for v in self.lat.values())

    def round_cpu_s(self) -> float:
        return sum(min(v) for v in self.cpu.values())


def run_op(wl, key: str, win: Window, tracer: Tracer, traced: bool) -> None:
    first_span = len(tracer.spans)
    before = tracer.mark() if traced else None
    jvm = tracer.spark.sparkContext._gateway.proc.pid
    c0, s0 = cpu_s(jvm), cpu_ticks()
    w0, t0 = time.time(), time.perf_counter()
    err, result = None, None
    try:
        result = wl.run(key, tracer if traced else None)
    except Exception as ex:  # noqa: BLE001 — a failed op is counted, not fatal
        err = f"{key}: {type(ex).__name__}: {str(ex)[:300]}"
    dt, w1 = time.perf_counter() - t0, time.time()
    dc, net = cpu_s(jvm) - c0, unstolen(dt, s0, cpu_ticks())
    tracer.settle()
    if err is None:
        err = wl.check(key, result)
    win.attempted += 1
    win.busy += dt
    if err is not None:
        win.errors.append(err)
        return
    win.lat[key].append(dt)
    win.net[key].append(net)
    win.cpu[key].append(dc)
    win.rows += wl.rows(result)
    if traced:
        rec = tracer.record_op(key, w0, w1, before, tracer.mark())
        rec["result.rows"] = wl.rows(result)
        wl.layers(tracer, rec, tracer.spans[first_span:])
        rec["trace.residual_s"] = rec["trace.wall_s"] - sum(rec[k] for k in wl.partition)
        tracer.settle()


def run_round(wl, rng: random.Random, win: Window, tracer: Tracer, traced: bool) -> None:
    """Every op of the mix once, in seeded order."""
    for key in rng.sample(wl.ids, len(wl.ids)):
        run_op(wl, key, win, tracer, traced)


def run_rounds(wl, rng: random.Random, seconds: float, tracer: Tracer) -> Window:
    """Whole untraced rounds until the ops have taken ``seconds``; at
    least one round."""
    win = Window()
    while True:
        run_round(wl, rng, win, tracer, traced=False)
        if win.busy >= seconds:
            return win


def cpu_ticks() -> tuple[int, int]:
    """Steal and busy (not idle or iowait; steal included) CPU ticks of
    this machine so far (``/proc/stat``). Steal is time a runnable vCPU
    waited for the hypervisor: load from other guests, which no change to
    this repository can remove."""
    with open("/proc/stat") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


def unstolen(dt: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``dt`` wall seconds less the share the hypervisor stole: ``dt``
    times the share of the machine's busy ticks between the
    ``cpu_ticks()`` readings ``t0`` and ``t1`` that were not steal. This
    keeps the waits a CPU count cannot see (idle cores, driver-side
    waits) and drops the other guests' load."""
    steal, busy = t1[0] - t0[0], t1[1] - t0[1]
    return dt * (1 - steal / busy) if busy > 0 else dt


def proc_tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for ``root``
    and every process below it."""
    stats = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            stats[int(stat.parent.name)] = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
    children = defaultdict(list)
    for pid, fields in stats.items():
        children[int(fields[1])].append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s(jvm: int) -> float:
    """CPU seconds (user + system) used so far by the driver JVM, its
    Python workers (live, and exited ones through ``cutime``), and this
    Python process. The kernel keeps steal out of these counters, so a
    busy neighbour on the host moves them far less than wall times."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in proc_tree(jvm).values())
    own = resource.getrusage(resource.RUSAGE_SELF)
    return ticks / CLK_TCK + own.ru_utime + own.ru_stime


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM (VmHWM) and its Python workers,
    plus this Python process (getrusage)."""
    kib = 0
    for pid in proc_tree(spark.sparkContext._gateway.proc.pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                kib += next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    kib += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return kib / 1024.0


def setup(wl, work: Path, cpus: int):
    """The cold path a user waits through: engine import and session start,
    UDF worker prime, then (after the untimed input and oracle step) the
    mix's first op. Returns the session, a tracer, the set-up timings
    (wall; ``setup_s``, the same less the hypervisor's steal; and
    ``setup_cpu_s``, CPU seconds of the same path) and the first op's
    window."""
    s0, t0 = cpu_ticks(), time.perf_counter()
    spark = start_session(work)
    wl.bind(spark)
    t1 = time.perf_counter()
    prime_workers(spark, cpus)
    t2 = time.perf_counter()
    cold_s = unstolen(t2 - t0, s0, cpu_ticks())
    log(f"session {t1 - t0:.2f}s, worker prime {t2 - t1:.2f}s")
    cold_cpu = cpu_s(spark.sparkContext._gateway.proc.pid)
    wl.prepare()
    log("inputs and expected outputs ready")
    tracer = Tracer(spark)
    first = Window()
    run_op(wl, wl.ids[0], first, tracer, traced=False)
    timings = {"session.start_s": t1 - t0, "session.worker_prime_s": t2 - t1, "first_op_s": first.busy,
               "setup_wall_s": t2 - t0 + first.busy,
               "setup_s": cold_s + sum(x for v in first.net.values() for x in v),
               "setup_cpu_s": cold_cpu + sum(x for v in first.cpu.values() for x in v)}
    return spark, tracer, timings, first


def layer_metrics(tracer: Tracer, wl, timings: dict, overhead: float) -> dict[str, float]:
    out = dict.fromkeys(PER_LAYER, 0.0)
    for key in PER_LAYER:
        vals = [op[key] for op in tracer.ops if key in op]
        if vals:
            out[key] = statistics.fmean(vals)
    out.update({k: v for k, v in timings.items() if k in out})
    out.update(wl.extra)
    out["trace.overhead_s"] = overhead
    return out


def per_op_round(win: Window) -> float:
    return win.round_s() / max(1, len(win.lat))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="etl_ingest | sql_serving | llm_curation | all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if importlib.util.find_spec("aws_datalake_platform_spark") is None:
        raise SystemExit(f"the engine package is not importable from {ROOT}")
    if args.workload == "all":
        return run_all(args)
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # A SIGTERM leaves through the ``finally`` below, so the engine's
    # processes are ended on that path too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return bench(args, work, make_workload(args.workload, work, args.seed))
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: Path, wl) -> int:
    """One run of workload ``wl``; prints the report and the result line."""
    cpus = host_env(work)
    spark, tracer, timings, first = setup(wl, work, cpus)
    log(f"first op {timings['first_op_s']:.2f}s")
    try:
        rng = random.Random(args.seed)
        warm = Window()
        for _ in range(wl.warm_rounds):
            run_round(wl, rng, warm, tracer, traced=False)
        log(f"warm-up round {warm.busy:.2f}s")
        steal0 = cpu_ticks()
        if args.trace:
            plain, win = Window(), Window()
            while not win.attempted or min(plain.busy, win.busy) < args.seconds / 2:
                run_round(wl, rng, plain, tracer, traced=False)
                run_round(wl, rng, win, tracer, traced=True)
            overhead = per_op_round(win) - per_op_round(plain)
            windows = [first, warm, plain, win]
        else:
            win = run_rounds(wl, rng, args.seconds, tracer)
            windows = [first, warm, win]
        log(f"measured {win.attempted} ops in {win.busy:.2f}s")
        steal = [b - a for a, b in zip(steal0, cpu_ticks())]
        rss = peak_rss_mb(spark)
    finally:
        stop_engine()
    log("session stopped")

    attempted = sum(w.attempted for w in windows)
    errors = [e for w in windows for e in w.errors]
    for e in errors:
        print(f"FAILED {e}", file=sys.stderr)
    net = win.all_net()
    if args.trace:
        metrics = layer_metrics(tracer, wl, timings, overhead)
        units = PER_LAYER
        trace_dir = HERE / "_work" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(trace_dir / f"{args.workload}-seed{args.seed}.json"),
                    workload=args.workload, seed=args.seed, layers=metrics)
    else:
        metrics = {
            "setup_s": timings["setup_s"],
            "setup_wall_s": timings["setup_wall_s"],
            "setup_cpu_s": timings["setup_cpu_s"],
            "op_s_p50": statistics.median(net) if net else float("nan"),
            "op_s_p90": statistics.quantiles(net, n=10)[-1] if len(net) > 1 else float("nan"),
            "round_s": win.round_s() if net else float("nan"),
            "round_wall_s": win.round_wall_s() if net else float("nan"),
            "ops_per_s": len(net) / sum(net) if net else 0.0,
            "rows_per_s": win.rows / sum(net) if net else 0.0,
            "ok_op_ratio": 1.0 - len(errors) / attempted,
            "peak_rss_mb": rss,
            "round_cpu_s": win.round_cpu_s() if net else float("nan"),
            "host_steal_pct": 100.0 * steal[0] / max(1, steal[1]),
        }
        units = END_TO_END
        report(args.workload, metrics, len(net), len(errors), attempted)
        for key, v in sorted(win.net.items()):
            print(f"#     {key:22s} {min(v):12.4f} s      fastest of {len(v)}, steal removed")
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


# The wall-time metrics under the names a reader of each workload uses.
NAMED = {
    "etl_ingest": {"etl_run_s": "op_s_p50", "etl_run_s_p90": "op_s_p90", "etl_rows_per_s": "rows_per_s"},
    "sql_serving": {"query_s_p50": "op_s_p50", "query_s_p90": "op_s_p90", "queries_per_s": "ops_per_s"},
    "llm_curation": {"curation_round_s": "round_s", "curation_query_s_p50": "op_s_p50"},
}


def report(workload: str, m: dict, n: int, failed: int, attempted: int) -> None:
    print(f"# {workload}: {n} timed ops, {attempted} attempted in all")
    rows = [("setup_s", m["setup_s"], "s", "session + worker prime + first op, steal removed"),
            ("setup_wall_s", m["setup_wall_s"], "s", "the same, as the wall clock read"),
            ("setup_cpu_s", m["setup_cpu_s"], "s", "CPU seconds of the same path"),
            ("round_s", m["round_s"], "s", "one round of the mix, steal removed")]
    rows += [(alias, m[key], WALL[key], f"n={n}, steal removed") for alias, key in NAMED[workload].items()]
    rows += [("round_wall_s", m["round_wall_s"], "s", "one round of the mix, as the wall clock read"),
             ("round_cpu_s", m["round_cpu_s"], "s", "CPU seconds of one round of the mix"),
             ("failed_op_ratio", failed / attempted, "ratio", f"{failed}/{attempted}"),
             ("peak_rss_mb", m["peak_rss_mb"], "MB", "driver JVM + Python"),
             ("host_steal_pct", m["host_steal_pct"], "%", "busy CPU time other guests took in the window")]
    for name, value, unit, note in rows:
        print(f"#   {name:24s} {value:12.4f} {unit:6s} {note}")


def run_all(args) -> int:
    """Every workload in its own process; one summary line at the end."""
    out = {}
    for w in ("etl_ingest", "sql_serving", "llm_curation"):
        proc = subprocess.run(
            [sys.executable, str(Path(__file__)), "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        out[w] = json.loads(lines[-1]) if proc.returncode == 0 and lines else {"correct": False}
    print(json.dumps({"workloads": out}))
    return 0 if all(r.get("correct") for r in out.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
