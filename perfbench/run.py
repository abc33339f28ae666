"""Benchmark: the flight pipeline, the KPI dashboard and corpus curation.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

One process runs one workload on ``local[<cores>]`` with one closed-loop
client: the next op starts when the previous one returns, as an Airflow
task or an analyst waits for each reply. Inputs are generated from
``--seed`` into a working directory under ``.perfbench/`` that is removed
at exit. Set-up (data generation, session start and a warm-up that fills
the JIT and codegen caches, as in ``bench.py``) is timed as ``setup_s``;
then whole rounds of ops run until ``--seconds`` have passed, each op
checked outside its timed region.

Workloads and their ops:

- ``pipeline``: one op is a pipeline cycle of three
  ``run_pipeline`` calls on a fresh warehouse: the backfill of a dirty
  flight CSV (no ledger yet), the next day's cumulative CSV (+10% new,
  1% re-sent rows: the ledger anti-join) and an Airflow-style retry of
  that file (0 new rows);
- ``kpi_dashboard``: one op is one of the five reference KPI queries
  (``plans.kpi`` q01-q05), round-robin in a seeded order, ``collect()``ed;
- ``corpus_curation``: one op is ``curate_corpus`` over the documents.

The last stdout line is the JSON result. With ``--trace 0`` its metrics
are the end-to-end ones. With ``--trace 1`` the ops run with spans around
the program's public functions, the metrics are the per-layer ones (see
``layers.py``) and the spans go to
``.perfbench/trace-<workload>-seed<seed>.json``; the tracing overhead is
the time the tracer itself spends per op.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib.util
import json
import os
import random
import resource
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

PIPELINE_ROWS = 50_000  # half the paper's ~10^5 rows (BASELINE.md); see README
WARMUP_ROWS = 2_000
WARMUP_DOCS = 1_000
KPI_NAMES = ["q01_avg_fare_by_airline", "q02_booking_count_by_airline",
             "q03_fare_trend", "q04_seasonal_fare_variation", "q05_top_routes"]


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) of ``values``; one value is its own."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def elapsed_since(t0: float, tracer) -> float:
    """Seconds since ``t0`` (a ``time.perf_counter`` reading). When
    tracing, the interval is kept for the check of the traced time."""
    t1 = time.perf_counter()
    if tracer:
        tracer.windows.append((t0, t1))
    return t1 - t0


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Pipeline:
    """Backfill, daily run and retry of ``jobs.flight_pipeline``."""

    name = "pipeline"
    round_len = 1

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.kind_s: dict[str, list[float]] = {"backfill": [], "daily": [], "retry": []}
        self.storage_ratio = 0.0

    def prepare(self) -> None:
        from perfbench import gen_flights

        self.days = {}
        for tag, seed, n in (("warm", self.seed + 7919, WARMUP_ROWS),
                             ("main", self.seed, PIPELINE_ROWS)):
            fd = gen_flights.flight_days(seed, n)
            base, daily = f"{self.work}/{tag}_base.csv", f"{self.work}/{tag}_daily.csv"
            gen_flights.write_csv(base, fd.base)
            daily_bytes = gen_flights.write_csv(daily, fd.daily)
            retry = dataclasses.replace(fd.daily_expected, new=0)
            self.days[tag] = ([("backfill", base, fd.base_expected),
                               ("daily", daily, fd.daily_expected),
                               ("retry", daily, retry)], daily_bytes)

    def warm(self, spark) -> list[str]:
        """A small backfill. The daily run and the retry reuse most of its
        plans; warming them too did not change the daily run's time."""
        steps, _ = self.days["warm"]
        return self._cycle(spark, steps[:1], f"{self.work}/wh_warm", None)[1]

    def op(self, spark, k: int, tracer) -> tuple[float, list[str]]:
        steps, daily_bytes = self.days["main"]
        wh = f"{self.work}/wh"
        shutil.rmtree(wh, ignore_errors=True)
        times, errors = self._cycle(spark, steps, wh, tracer)
        for kind, t in times.items():
            self.kind_s[kind].append(t)
        self.storage_ratio = tree_bytes(wh) / daily_bytes
        return sum(times.values()), errors

    def _cycle(self, spark, steps, wh, tracer):
        from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
            run_pipeline,
        )

        times, errors = {}, []
        for kind, csv, exp in steps:
            span = (tracer.span("jobs.flight_pipeline.run_pipeline", kind=kind)
                    if tracer else nullcontext())
            t = time.perf_counter()
            with span:
                report = run_pipeline(spark, csv, wh)
            times[kind] = elapsed_since(t, tracer)
            want = {"passed": True, "source_rows": exp.source,
                    "deduped_rows": exp.deduped, "staged_rows": exp.deduped,
                    "fact_rows": exp.fact, "ingested_new_rows": exp.new,
                    "rows_dropped_invalid": exp.invalid, "dims": exp.dims}
            errors += [f"{kind}: {k}={report.get(k)!r}, expected {v!r}"
                       for k, v in want.items() if report.get(k) != v]
        return times, errors

    def summary(self, times: list[float]) -> dict:
        names = {"backfill": "backfill_s", "daily": "daily_run_s", "retry": "retry_run_s"}
        out = {names[k]: (statistics.median(v), "s") for k, v in self.kind_s.items() if v}
        return out | {"storage_ratio": (self.storage_ratio, "ratio")}


class KpiDashboard:
    """The five reference KPI queries, round-robin, results collected."""

    name = "kpi_dashboard"
    # two passes over the five queries: every query equally often in a
    # run, and the p90 always falls between the two runs of the slowest
    round_len = 2 * len(KPI_NAMES)

    def __init__(self, seed: int, work: str):
        self.seed, self.tables = seed, f"{work}/tables"
        self.order = random.Random(seed).sample(KPI_NAMES, len(KPI_NAMES))
        self.first: dict[str, list] = {}

    def prepare(self) -> None:
        """Write the tables and compute the DuckDB oracle results."""
        import duckdb

        from airflow_project_flight_price_analysis_spark.plans import all_oracle_sql
        from perfbench import gen_tables

        os.makedirs(self.tables)
        gen_tables.write_kpi_tables(self.seed, self.tables)
        self.normalize, oracle = _oracle_normalizer(), all_oracle_sql()
        con = duckdb.connect()
        try:
            for t in gen_tables.KPI_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            self.expected = {name: self.normalize(con.execute(oracle[name]).fetchdf())
                             for name in self.order}
        finally:
            con.close()

    def warm(self, spark) -> list[str]:
        """One cold round, checked against the oracle; its results are the
        reference for every later op."""
        import pandas as pd

        from airflow_project_flight_price_analysis_spark.plans import kpi

        errors = []
        for name in self.order:
            df = kpi.QUERIES[name](spark, self.tables)
            self.first[name] = df.collect()
            got = pd.DataFrame([tuple(r) for r in self.first[name]], columns=df.columns)
            if self.normalize(got) != self.expected[name]:
                errors.append(f"{name}: result differs from the DuckDB oracle")
        return errors

    def op(self, spark, k: int, tracer) -> tuple[float, list[str]]:
        from airflow_project_flight_price_analysis_spark.plans import kpi

        name = self.order[k % len(self.order)]
        t = time.perf_counter()
        with tracer.span("plans.kpi.build") if tracer else nullcontext():
            df = kpi.QUERIES[name](spark, self.tables)
        rows = df.collect()
        elapsed = elapsed_since(t, tracer)
        return elapsed, ([] if rows == self.first[name]
                         else [f"{name}: result differs from its first run"])

    def summary(self, times: list[float]) -> dict:
        return {"kpi_p50_s": (statistics.median(times), "s"),
                "kpi_p90_s": (percentile(times, 90), "s")}


class CorpusCuration:
    """``jobs.corpus_pipeline.curate_corpus`` over the documents table."""

    name = "corpus_curation"
    round_len = 1

    def __init__(self, seed: int, work: str):
        self.seed, self.work, self.tables = seed, work, f"{work}/tables"
        self.first: dict | None = None

    def prepare(self) -> None:
        from perfbench import gen_tables

        os.makedirs(self.tables)
        os.makedirs(f"{self.work}/warm")
        gen_tables.write_documents(self.seed, self.tables)
        gen_tables.write_documents(self.seed, f"{self.work}/warm", n=WARMUP_DOCS)

    def _curate(self, spark, tables: str, tracer=None) -> tuple[float, dict]:
        from airflow_project_flight_price_analysis_spark.jobs.corpus_pipeline import (
            curate_corpus,
        )

        t = time.perf_counter()
        with tracer.span("jobs.corpus_pipeline.curate_corpus") if tracer else nullcontext():
            report = curate_corpus(spark, tables, f"{self.work}/curated")
        return elapsed_since(t, tracer), report

    def warm(self, spark) -> list[str]:
        """A cold run on the first ``WARMUP_DOCS`` documents, then one on
        all of them, whose report is the reference for every op. After
        the cold run alone, the next run was still ~30% slower than the
        ones after it (10-11 s against 7.6-7.9 s on 4 vCPUs)."""
        _, small = self._curate(spark, f"{self.work}/warm")
        _, self.first = self._curate(spark, self.tables)
        return check_curation(small) + check_curation(self.first)

    def op(self, spark, k: int, tracer) -> tuple[float, list[str]]:
        elapsed, report = self._curate(spark, self.tables, tracer)
        return elapsed, ([] if report == self.first
                         else [f"report {report} differs from the first {self.first}"])

    def summary(self, times: list[float]) -> dict:
        return {"curation_s": (statistics.median(times), "s")}


def check_curation(report: dict) -> list[str]:
    """Stage counts never grow, the written count is the near-dup
    survivor count, and the splits add up to it."""
    stages = ["n_input", "n_after_quality", "n_after_exact_dedup",
              "n_after_neardup", "n_written"]
    errors = [f"{a}={report[a]} < {b}={report[b]}"
              for a, b in zip(stages, stages[1:]) if report[a] < report[b]]
    if report["n_written"] != report["n_after_neardup"]:
        errors.append("n_written != n_after_neardup")
    if sum(report["splits"].values()) != report["n_written"]:
        errors.append(f"splits {report['splits']} do not add up to n_written")
    if report["n_written"] <= 0:
        errors.append("nothing written")
    return errors


WORKLOADS = {w.name: w for w in (Pipeline, KpiDashboard, CorpusCuration)}


def _oracle_normalizer():
    """The test suite's oracle normalizer (``tests/oracle_util.py``),
    loaded by path so no other ``tests`` package can shadow it."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_util", os.path.join(ROOT, "tests", "oracle_util.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


def patch_layers(tracer) -> None:
    """Wrap the program's public functions in spans, at the module
    attribute each caller looks them up through."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from airflow_project_flight_price_analysis_spark.jobs import (
        corpus_pipeline,
        flight_pipeline,
    )
    from airflow_project_flight_price_analysis_spark.operators import star

    for owner, attr, name in [
        (flight_pipeline, "read_flights_csv", "sources.flights_csv.read_flights_csv"),
        (flight_pipeline, "reconcile", "validation.reconcile"),
        (star, "ingest_increment", "operators.star.ingest_increment"),
        (star, "read_ledger", "operators.star.read_ledger"),
        (star, "clean_flights", "operators.star.clean_flights"),
        (star, "build_star_schema", "operators.star.build_star_schema"),
        (corpus_pipeline, "minhash_neardup_pairs", "operators.dedup.minhash_neardup_pairs"),
        (corpus_pipeline, "dedup_transitive", "operators.graph.dedup_transitive"),
        (DataFrame, "count", "spark.action"),
        (DataFrame, "collect", "spark.action"),
        (DataFrameWriter, "save", "spark.action"),
        (DataFrameWriter, "parquet", "spark.action"),
    ]:
        tracer.patch(owner, attr, name)


def measure(wl, spark, seconds: float, tracer=None) -> tuple[list[float], int, int]:
    """Closed loop: run whole rounds of ops until ``seconds`` have passed
    (at least one round). Returns the times of the ops that completed, ops
    attempted and ops failed (raised, or failed their check)."""
    times, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while attempted % wl.round_len or attempted == 0 or time.perf_counter() < deadline:
        attempted += 1
        try:
            elapsed, errors = wl.op(spark, attempted - 1, tracer)
        except Exception:  # an op that raises is a failed op, not a crash
            traceback.print_exc()
            failed += 1
            continue
        times.append(elapsed)
        if errors:
            print(f"op {attempted - 1} failed its check: {errors}", file=sys.stderr)
            failed += 1
    if not times:
        raise RuntimeError(f"{wl.name}: every op raised")
    return times, attempted, failed


def layer_metrics(tracer, n_ops: int, wl, rss_mb: float) -> dict:
    """Per-layer metrics per op (``session.get_spark`` per run)."""
    from perfbench import layers
    from perfbench.spans import self_time

    agg = tracer.aggregate()
    for i, s in enumerate(tracer.spans):
        if "kind" in s.tags:
            a = agg.setdefault(f"{s.name}.{s.tags['kind']}", {"self_s": 0.0, "jobs": 0})
            a["self_s"] += self_time(tracer.spans, i)
            a["jobs"] += s.counters.get("jobs", 0)
    out = {}
    for name, unit in layers.per_layer_metrics():
        span, _, field = name.rpartition(".")
        if name == layers.STORAGE_RATIO:
            value = getattr(wl, "storage_ratio", 0.0)
        elif name == layers.TRACE_OVERHEAD:
            value = tracer.overhead_s / n_ops
        elif name == layers.PEAK_RSS:
            value = rss_mb
        else:
            value = agg.get(span, {}).get(field, 0)
            if span != "session.get_spark":
                value /= n_ops
        out[name] = {"value": value, "unit": unit}
    return out


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS plus this process's maximum RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
            raise


def run(args, work: str, t0: float) -> dict:
    from perfbench.spans import SparkProbe, Tracer, check_windows

    from airflow_project_flight_price_analysis_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, work)
    # generate inputs while the JVM starts
    prep_error: list[BaseException] = []

    def prepare():
        try:
            wl.prepare()
        except BaseException as e:  # re-raised on the main thread below
            prep_error.append(e)

    prep = threading.Thread(target=prepare)
    prep.start()
    tracer = Tracer() if args.trace else None
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    with tracer.span("session.get_spark") if tracer else nullcontext():
        spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=cores, extra_conf=conf)
    try:
        session_s = time.perf_counter() - t0
        prep.join()
        if prep_error:
            raise prep_error[0]
        t_warm = time.perf_counter()
        errors = wl.warm(spark)
        for e in errors:
            print(f"warm-up check failed: {e}", file=sys.stderr)
        setup_s = time.perf_counter() - t0
        print(f"{wl.name}: set-up {setup_s:.2f}s = session {session_s:.2f}s + "
              f"inputs {t_warm - t0 - session_s:.2f}s + warm-up "
              f"{setup_s - (t_warm - t0):.2f}s")

        if tracer:
            tracer.probe = SparkProbe(spark.sparkContext)
            patch_layers(tracer)
        try:
            times, attempted, failed = measure(wl, spark, args.seconds, tracer)
        finally:
            if tracer:
                tracer.unpatch()
        failed += bool(errors)
        if tracer:
            bad_windows = check_windows(tracer.spans, tracer.windows)
            for b in bad_windows:
                print(f"traced time check failed: {b}", file=sys.stderr)
            failed += bool(bad_windows)
        print(f"{wl.name}: local[{cores}], {attempted} ops, "
              f"op_s={[round(t, 3) for t in times]}")
        rss_mb = peak_rss_mb(spark)
        named = wl.summary(times) | {"setup_s": (setup_s, "s"),
                                     "peak_rss_mb": (rss_mb, "MB"),
                                     "failed_op_frac": (failed / attempted, "share")}
        for key, (value, unit) in named.items():
            print(f"{wl.name} {key} = {value:.4f} {unit}")
        if tracer:
            metrics = layer_metrics(tracer, len(times), wl, rss_mb)
            tracer.write_json(
                os.path.join(OUT_DIR, f"trace-{wl.name}-seed{args.seed}.json"),
                {"workload": wl.name, "seed": args.seed, "op_s": times,
                 "metrics": metrics})
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_s": {"value": statistics.median(times), "unit": "s"},
                "op_p90_s": {"value": percentile(times, 90), "unit": "s"},
            }
    finally:
        stop_spark(spark)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds like an exception, so the JVM and the working
    # directory are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT]
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    os.makedirs(work)
    # keep Spark's and Python's temporary files inside the repository
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = work
    try:
        result = run(args, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
