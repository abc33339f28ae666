"""Flight pipeline job — the spark-submit entry point the orchestrator
(Airflow, per the driver mandate) schedules.

Mirrors the reference DAG's task bodies
(``dags/flight_pipeline_dag.py:49-68``): ingest → transform → validate in
one end-to-end run. Emits a JSON report to stdout (the reference logs
counts; ``dags/tasks/validation.py``).

One run makes exactly one clean pass over bronze: silver is persisted
once and every star write reads it from cache. The report's counts come
from where the data already flows, not from extra scans:

- ``source_rows``: an ``Observation`` on the raw CSV read, fired by
  ingest's own ``count()`` of the fresh rows;
- ``deduped_rows`` and ``rows_dropped_invalid``: the ``clean_metrics``
  observation on the silver pass (rows in, rows failing the validity
  filter);
- ``dims``: an ``Observation`` on each dimension write;
- ``staged_rows`` and ``fact_rows``: fresh read-backs of bronze and the
  fact after all writes, so the reconciliation compares independent
  reads (see ``validate`` in ``run_pipeline``).

Each stage's Spark jobs are labelled ``flight_pipeline.<stage>`` (job
group and description), and the report carries each stage's wall time
(``stage_sec``) and Spark job count (``stage_jobs``).

Usage:
    python -m airflow_project_flight_price_analysis_spark.jobs.flight_pipeline \
        --csv /path/flights.csv --warehouse /path/warehouse
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import star
from ..session import get_spark
from ..sources.flights_csv import read_flights_csv
from ..validation import reconcile

DIMS = ("dim_airlines", "dim_airports", "dim_date")
# the local properties setJobGroup writes, restored after each stage
_JOB_LABELS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


@contextmanager
def _stage(spark: SparkSession, name: str, timing: dict):
    """Label the Spark jobs run inside as ``flight_pipeline.<name>`` and
    record the stage's wall time and job count in ``timing``. Job IDs are
    allocated in order, so the count is the scheduler's job counter read
    before and after (AQE query stages and broadcasts are jobs too). The
    caller's own job labels are restored afterwards."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_LABELS}
    sc.setJobGroup(f"flight_pipeline.{name}", f"flight_pipeline {name}")
    scheduler = sc._jsc.sc().dagScheduler()
    jobs0, t0 = scheduler.numTotalJobs(), time.perf_counter()
    try:
        yield
    finally:
        timing["stage_sec"][name] = round(time.perf_counter() - t0, 3)
        timing["stage_jobs"][name] = scheduler.numTotalJobs() - jobs0
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def _observe_rows(df: DataFrame, obs: Observation) -> DataFrame:
    return df.observe(obs, F.count(F.lit(1)).alias("rows"))


def _write_star(spark: SparkSession, bronze: DataFrame, warehouse: str) -> dict:
    """Clean bronze once into a persisted silver and write the three dims
    and the fact from it. Returns the bronze row count, the invalid rows
    dropped and each dim's row count, all taken from observations on
    passes the writes make anyway."""
    clean_obs = Observation("clean_metrics")
    silver = star.clean_flights(bronze, observation=clean_obs).persist()
    try:
        schema = star.build_star_schema(silver)
        dims = {name: getattr(schema, name) for name in DIMS}
        dim_obs = {name: Observation(name) for name in DIMS}
        for name, dim in dims.items():
            _observe_rows(dim, dim_obs[name]).write.mode("overwrite").parquet(
                f"{warehouse}/{name}")
        # the fact's broadcast sides are the dims just written, read back
        # with their known schema (no inference job) — not two more
        # aggregations over silver
        written = {name: spark.read.schema(dims[name].schema).parquet(f"{warehouse}/{name}")
                   for name in ("dim_airlines", "dim_airports")}
        fact = star.build_fact(silver, written["dim_airlines"], written["dim_airports"])
        fact.write.mode("overwrite").parquet(f"{warehouse}/fact_flights")
    finally:
        silver.unpersist()
    clean = clean_obs.get
    return {
        "deduped_rows": int(clean["rows_in"]),
        "rows_dropped_invalid": int(clean["rows_dropped_invalid"] or 0),
        "dims": {name: int(dim_obs[name].get["rows"]) for name in DIMS},
    }


def _read_back_rows(spark: SparkSession, path: str) -> int:
    """Rows in the parquet table at ``path`` by a fresh read; 0 if the
    table was never written."""
    df = star.read_parquet_or_none(spark, path)
    return 0 if df is None else df.count()


def run_pipeline(spark: SparkSession, csv_path: str, warehouse: str) -> dict:
    bronze_path = f"{warehouse}/bronze_flights"
    ledger_path = f"{warehouse}/processed_hashes"
    timing: dict = {"stage_sec": {}, "stage_jobs": {}}

    # --- ingest (ingestion.py:18-129) ---
    with _stage(spark, "ingest", timing):
        source_obs = Observation("source_metrics")
        raw = _observe_rows(read_flights_csv(spark, csv_path), source_obs)
        n_new = star.ingest_increment(spark, raw, bronze_path, ledger_path)

    # --- transform (transformation.py:45-138) ---
    with _stage(spark, "transform", timing):
        bronze = star.read_parquet_or_none(spark, bronze_path)
        if bronze is None:
            # a first run whose file held no rows appended nothing: there
            # is no bronze to build a star from
            built = {"deduped_rows": 0, "rows_dropped_invalid": 0,
                     "dims": dict.fromkeys(DIMS, 0)}
        else:
            built = _write_star(spark, bronze, warehouse)

    # --- validate (validation.py:17-49, post-dedup semantics) ---
    # staged_rows is a fresh READ-BACK of bronze after the star build,
    # not the transform's observed count: passing deduped_rows here would
    # make staging_ok compare a value to itself (vacuously true); the
    # re-read catches a bronze partition lost or doubled between the
    # silver pass and validation. fact_rows likewise reads the written
    # fact, so a stale fact under an empty bronze fails as phantom rows.
    with _stage(spark, "validate", timing):
        staged_rows = _read_back_rows(spark, bronze_path)
        fact_rows = _read_back_rows(spark, f"{warehouse}/fact_flights")
        report = reconcile(
            source_rows=int(source_obs.get["rows"]),
            deduped_rows=built["deduped_rows"],
            staged_rows=staged_rows,
            fact_rows=fact_rows,
        )
    return {
        "ingested_new_rows": n_new,
        "rows_dropped_invalid": built["rows_dropped_invalid"],
        "dims": built["dims"],
        **report.as_dict(),
        **timing,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--csv", required=True, help="raw flight CSV path")
    ap.add_argument("--warehouse", required=True, help="parquet warehouse dir")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="flight-pipeline")
    try:
        report = run_pipeline(spark, args.csv, args.warehouse)
    finally:
        spark.stop()
    print(json.dumps(report))
    return 0 if report["passed"] else 1


if __name__ == "__main__":
    sys.exit(main())
