"""End-to-end flight pipeline: CSV → bronze (hash-dedup ledger) → silver →
star schema → reconciliation. Mirrors the reference DAG's
ingest→transform→validate flow (dags/flight_pipeline_dag.py:49-68)."""

from __future__ import annotations

from pathlib import Path

import pytest

from airflow_project_flight_price_analysis_spark.operators import star
from airflow_project_flight_price_analysis_spark.sources.flights_csv import (
    read_flights_csv,
)
from airflow_project_flight_price_analysis_spark.validation import reconcile

CSV_HEADER = (
    "Airline,Source,Source Name,Destination,Destination Name,"
    "Departure Date & Time,Arrival Date & Time,Duration (hrs),Stopovers,"
    "Aircraft Type,Class,Booking Source,Base Fare (BDT),"
    "Tax & Surcharge (BDT),Total Fare (BDT),Seasonality,Days Before Departure"
)

GOOD_ROW = (
    "biman bangladesh airlines,DAC,hazrat shahjalal intl,CXB,cox's bazar airport,"
    "2025-03-14 08:30:00,2025-03-14 10:05:00,1.58,Direct,Boeing 737,economy,"
    "online,4500.00,675.50,5175.50,Eid,21"
)
DUP_ROW = GOOD_ROW
BAD_FARE_ROW = (  # total_fare 0 → dropped by validity filter
    "novoair,DAC,hazrat shahjalal intl,ZYL,osmani intl,"
    "2025-03-15 09:00:00,2025-03-15 10:00:00,1.0,non-stop,ATR 72,economy,"
    "agency,0,0,0,Regular,7"
)
BAD_DATE_ROW = (  # unparseable departure → null date → dropped from fact
    "us-bangla,DAC,hazrat shahjalal intl,CGP,shah amanat intl,"
    "not-a-date,also-not,1.2,1 Stop,Boeing 737,business,online,"
    "6000,900,6900,Regular,3"
)
SECOND_ROW = (
    "novoair ,DAC, hazrat shahjalal intl ,ZYL,osmani intl,"
    "2025-03-16 18:30:00,2025-03-16 19:30:00,1.0,2 stops,ATR 72, Economy ,"
    "agency,3000,450,3450,Regular,10"
)


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "flights.csv"
    p.write_text("\n".join([CSV_HEADER, GOOD_ROW, DUP_ROW, BAD_FARE_ROW,
                            BAD_DATE_ROW, SECOND_ROW]) + "\n")
    return str(p)


def _run_pipeline(spark, csv_file, tmp_path):
    bronze_path = str(tmp_path / "bronze")
    ledger_path = str(tmp_path / "ledger")
    raw = read_flights_csv(spark, csv_file)
    n_new = star.ingest_increment(spark, raw, bronze_path, ledger_path)
    bronze = spark.read.parquet(bronze_path)
    silver = star.clean_flights(bronze)
    schema = star.build_star_schema(silver)
    return n_new, raw, bronze, silver, schema


def test_ingest_dedups_exact_duplicates(spark, csv_file, tmp_path):
    n_new, raw, bronze, *_ = _run_pipeline(spark, csv_file, tmp_path)
    assert raw.count() == 5
    assert n_new == 4  # DUP_ROW collapsed (ingestion.py:69-83)
    assert bronze.count() == 4


def test_reingest_is_idempotent(spark, csv_file, tmp_path):
    _run_pipeline(spark, csv_file, tmp_path)
    raw = read_flights_csv(spark, csv_file)
    n_second = star.ingest_increment(
        spark, raw, str(tmp_path / "bronze"), str(tmp_path / "ledger")
    )
    assert n_second == 0  # re-run adds nothing (effective exactly-once)
    assert spark.read.parquet(str(tmp_path / "bronze")).count() == 4


def test_appended_rows_are_incremental(spark, csv_file, tmp_path):
    _run_pipeline(spark, csv_file, tmp_path)
    extra = (
        "biman bangladesh airlines,DAC,hazrat shahjalal intl,SPD,saidpur airport,"
        "2025-04-01 07:00:00,2025-04-01 08:10:00,1.17,Direct,Dash 8,economy,"
        "online,3800,570,4370,Hajj,30"
    )
    with open(csv_file, "a") as f:
        f.write(extra + "\n")
    raw = read_flights_csv(spark, csv_file)
    n = star.ingest_increment(
        spark, raw, str(tmp_path / "bronze"), str(tmp_path / "ledger")
    )
    assert n == 1
    assert spark.read.parquet(str(tmp_path / "bronze")).count() == 5


def test_silver_cleaning_and_validity_filter(spark, csv_file, tmp_path):
    _, _, bronze, silver, _ = _run_pipeline(spark, csv_file, tmp_path)
    rows = {r.airline: r for r in silver.collect()}
    # BAD_FARE_ROW dropped (total_fare<=0); others survive
    assert len(rows) == 3 and "Novoair" in rows
    nv = rows["Novoair"]
    assert nv.stopovers == 2          # '2 stops' parsed
    assert nv.total_fare == 3450.0
    assert nv.airline == "Novoair"    # trimmed + initcap
    assert rows["Us-bangla"].departure_date is None  # coerce-to-null


def test_star_schema_shapes(spark, csv_file, tmp_path):
    *_, schema = _run_pipeline(spark, csv_file, tmp_path)
    assert schema.dim_airlines.count() == 3
    # airports deduped on code: DAC, CXB, ZYL, CGP
    assert schema.dim_airports.count() == 4
    # fact: BAD_DATE_ROW dropped for null date → 2 rows
    fact = schema.fact_flights.collect()
    assert len(fact) == 2
    assert all(r.airline_id is not None for r in fact)
    dim_date = {r.date_id.isoformat(): r for r in schema.dim_date.collect()}
    assert dim_date["2025-03-14"].seasonality == "Eid"
    assert dim_date["2025-03-14"].day_of_week == 4  # Friday
    assert not dim_date["2025-03-14"].is_weekend


def test_reconciliation_gate(spark, csv_file, tmp_path):
    _, raw, bronze, silver, schema = _run_pipeline(spark, csv_file, tmp_path)
    report = reconcile(
        source_rows=raw.count(),
        deduped_rows=bronze.count(),
        staged_rows=bronze.count(),
        fact_rows=schema.fact_flights.count(),
    )
    assert report.staging_ok
    # 2 of 4 deduped rows lost (bad fare, bad date) = 50% > 1% budget
    assert not report.loss_ok and not report.passed


def test_reconciliation_passes_within_budget():
    r = reconcile(source_rows=1000, deduped_rows=1000,
                  staged_rows=1000, fact_rows=995)
    assert r.loss_pct == 0.5 and r.passed
    r2 = reconcile(source_rows=1000, deduped_rows=1000,
                   staged_rows=1000, fact_rows=980)
    assert not r2.passed


def test_dropped_row_accounting_single_pass(spark, csv_file, tmp_path):
    """df.observe metrics reconcile with the actual filter effect."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    report = run_pipeline(spark, csv_file, str(tmp_path / "wh"))
    assert "rows_dropped_invalid" in report
    assert report["rows_dropped_invalid"] >= 0
    # silver rows = deduped - dropped_invalid; fact may drop more (null FKs)
    silver_rows = report["deduped_rows"] - report["rows_dropped_invalid"]
    assert report["fact_rows"] <= silver_rows <= report["deduped_rows"]


EXTRA_ROWS = [  # a second day's file: one new row, one new bad fare
    "biman bangladesh airlines,DAC,hazrat shahjalal intl,SPD,saidpur airport,"
    "2025-04-01 07:00:00,2025-04-01 08:10:00,1.17,Direct,Dash 8,economy,"
    "online,3800,570,4370,Hajj,30",
    "air astra,CGP,shah amanat intl,DAC,hazrat shahjalal intl,"
    "2025-04-02 07:00:00,2025-04-02 08:00:00,1.0,Direct,ATR 72,economy,"
    "online,0,0,0,Regular,5",
]


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_report_counts_match_independent_reads(spark, csv_file, tmp_path):
    """Every count the report takes from an observation agrees with a
    plain re-read of what the run read or wrote, on a backfill and on a
    second, incremental file; the cached silver is released."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        DIMS,
        run_pipeline,
    )

    wh = str(tmp_path / "wh")
    bronze_path = f"{wh}/bronze_flights"
    day2 = tmp_path / "day2.csv"
    day2.write_text(Path(csv_file).read_text() + "\n".join(EXTRA_ROWS) + "\n")
    persisted = _persisted_rdds(spark)
    for path, n_new in ((csv_file, 4), (str(day2), 2)):
        report = run_pipeline(spark, path, wh)
        assert report["ingested_new_rows"] == n_new
        assert report["source_rows"] == spark.read.csv(path, header=True).count()
        bronze_rows = spark.read.parquet(bronze_path).count()
        assert report["deduped_rows"] == report["staged_rows"] == bronze_rows
        for name in DIMS:
            assert report["dims"][name] == spark.read.parquet(f"{wh}/{name}").count()
        silver_rows = star.clean_flights(spark.read.parquet(bronze_path)).count()
        assert report["rows_dropped_invalid"] == bronze_rows - silver_rows
        assert report["fact_rows"] == spark.read.parquet(f"{wh}/fact_flights").count()
        assert _persisted_rdds(spark) == persisted
    assert report["source_rows"] == 7 and report["deduped_rows"] == 6
    assert report["rows_dropped_invalid"] == 2 and report["fact_rows"] == 3


def test_header_only_first_day_is_a_passing_noop(spark, tmp_path):
    """A first run on a file with no data rows appends nothing, so there
    is no bronze yet: the run is the no-op ``reconcile`` allows (empty
    source, empty fact), not a PATH_NOT_FOUND on the bronze read."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    p = tmp_path / "empty.csv"
    p.write_text(CSV_HEADER + "\n")
    report = run_pipeline(spark, str(p), str(tmp_path / "wh"))
    assert report["passed"]
    assert report["ingested_new_rows"] == report["rows_dropped_invalid"] == 0
    assert set(report["dims"].values()) == {0}
    for k in ("source_rows", "deduped_rows", "staged_rows", "fact_rows"):
        assert report[k] == 0, k
    # a fact left behind with no bronze under it is phantom rows, not a no-op
    spark.range(3).write.parquet(str(tmp_path / "wh" / "fact_flights"))
    report = run_pipeline(spark, str(p), str(tmp_path / "wh"))
    assert report["fact_rows"] == 3 and not report["passed"]


def test_stage_timing_labels_and_job_budget(spark, csv_file, tmp_path):
    """The report times and counts the Spark jobs of each stage, the jobs
    carry their stage's group, and the caller's own job labels survive.
    The budget pins the one-clean-pass shape: 23 jobs on this fixture
    (ingest 6, transform 11, validate 6); an edit that recomputes silver
    or re-scans a source again adds jobs and fails here."""
    import time

    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try:
        report = run_pipeline(spark, csv_file, str(tmp_path / "wh"))
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    stages = ["ingest", "transform", "validate"]
    assert list(report["stage_sec"]) == list(report["stage_jobs"]) == stages
    assert all(t >= 0 for t in report["stage_sec"].values())
    assert all(n > 0 for n in report["stage_jobs"].values())
    assert sum(report["stage_jobs"].values()) <= 23, report["stage_jobs"]
    # the status store is fed asynchronously; give it a moment
    tracker = sc.statusTracker()
    labelled = lambda: [s for s in stages if tracker.getJobIdsForGroup(f"flight_pipeline.{s}")]
    deadline = time.monotonic() + 5
    while labelled() != stages and time.monotonic() < deadline:
        time.sleep(0.1)
    assert labelled() == stages


def test_jdbc_wrappers_contract(spark):
    """No DB (or JDBC driver) ships in this environment. Pin the API
    contract: missing partition bounds raise ValueError before any remote
    call; with bounds, the failure is at the JDBC layer (driver/connect —
    schema resolution is eager for JDBC), proving the options are wired
    through to the datasource."""
    import pytest as _pytest

    from airflow_project_flight_price_analysis_spark.sources.jdbc import read_jdbc

    with _pytest.raises(ValueError):
        read_jdbc(spark, "jdbc:postgresql://example.invalid/x", "t",
                  partition_column="id")
    with _pytest.raises(Exception) as ei:
        read_jdbc(
            spark, "jdbc:postgresql://example.invalid:5432/x", "analytics.fact",
            partition_column="id", lower_bound=0, upper_bound=1000,
            num_partitions=4,
        )
    assert "driver" in str(ei.value).lower() or "connect" in str(ei.value).lower()


def test_reordered_csv_header_fails_loudly(spark, tmp_path):
    """enforceSchema=false: a vendor reordering columns must fail the
    read, not silently swap source/destination through the pipeline."""
    import pytest

    from airflow_project_flight_price_analysis_spark.sources.flights_csv import (
        RENAME_MAP,
        read_flights_csv,
    )

    cols = list(RENAME_MAP)
    swapped = cols.copy()
    i, j = cols.index("Source"), cols.index("Destination")
    swapped[i], swapped[j] = swapped[j], swapped[i]
    p = tmp_path / "swapped.csv"
    p.write_text(",".join(f'"{c}"' for c in swapped) + "\n"
                 + ",".join(["x"] * len(cols)) + "\n")
    with pytest.raises(Exception, match="(?i)header|schema"):
        read_flights_csv(spark, str(p)).collect()


def test_reconcile_fails_closed_on_inflation_and_phantoms():
    """r7 review: the gate must fail CLOSED in both directions — row
    inflation (negative loss) and phantom fact rows over an empty
    source both fail; the report's loss_ok agrees with its own rounded
    loss_pct."""
    from airflow_project_flight_price_analysis_spark.validation import (
        reconcile,
    )

    # dim-fanout inflation: MORE fact rows than deduped source
    r = reconcile(1000, 1000, 1000, 1100)
    assert r.loss_pct < 0 and not r.loss_ok and not r.passed
    # phantom fact rows under an empty source
    r = reconcile(1000, 0, 0, 500)
    assert not r.passed
    # legitimate empty no-op run still passes
    r = reconcile(0, 0, 0, 0)
    assert r.passed
    # rounded-value consistency: loss_ok computed on the REPORTED value
    r = reconcile(10_000_000, 10_000_000, 10_000_000, 9_899_996)
    assert r.loss_pct == 1.0 and r.loss_ok
