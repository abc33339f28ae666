"""The traced run's layers: span names, the per-layer metrics reported for
them, and which end-to-end metric each should move on which workload.

Span names are ``<module>.<function>`` of the program function a span
wraps, relative to the ``airflow_project_flight_price_analysis_spark``
package; ``spark.action`` wraps DataFrame ``count``/``collect`` and
DataFrameWriter ``save``/``parquet``.

Per-layer values are per measured op of the workload (a pipeline cycle,
one dashboard query, one curation run), except ``session.get_spark``,
which runs once per process in set-up, and the process's peak RSS. A
layer a workload never calls reads 0 there.
"""

from __future__ import annotations

from .spans import COUNTERS

SPANS = [
    "session.get_spark",
    "jobs.flight_pipeline.run_pipeline",
    "sources.flights_csv.read_flights_csv",
    "operators.star.ingest_increment",
    "operators.star.read_ledger",
    "operators.star.clean_flights",
    "operators.star.build_star_schema",
    "validation.reconcile",
    "plans.kpi.build",
    "jobs.corpus_pipeline.curate_corpus",
    "operators.dedup.minhash_neardup_pairs",
    "operators.graph.dedup_transitive",
    "spark.action",
]
# spans that run Spark jobs get every counter; the cheap readers and the
# KPI query construction only their job count
COUNTER_SPANS = [
    "jobs.flight_pipeline.run_pipeline",
    "operators.star.ingest_increment",
    "jobs.corpus_pipeline.curate_corpus",
    "operators.dedup.minhash_neardup_pairs",
    "operators.graph.dedup_transitive",
    "spark.action",
]
JOB_COUNT_SPANS = [
    "sources.flights_csv.read_flights_csv",
    "operators.star.read_ledger",
    "plans.kpi.build",
]
PIPELINE_KINDS = ["backfill", "daily", "retry"]
RUN_PIPELINE = "jobs.flight_pipeline.run_pipeline"
STORAGE_RATIO = f"{RUN_PIPELINE}.storage_ratio"
TRACE_OVERHEAD = "trace.overhead_s"
PEAK_RSS = "process.peak_rss_mb"  # JVM VmHWM plus Python max RSS, per run

UNITS = {"calls": "count", "self_s": "s", "jobs": "count", "tasks": "count",
         "task_cpu_s": "s", "gc_s": "s", "input_mb": "MB", "output_mb": "MB",
         "shuffle_write_mb": "MB", "spill_mb": "MB", "driver_s": "s"}


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = []
    for span in SPANS:
        out += [(f"{span}.calls", "count"), (f"{span}.self_s", "s")]
        if span in COUNTER_SPANS:
            out += [(f"{span}.{c}", UNITS[c]) for c in COUNTERS]
        elif span in JOB_COUNT_SPANS:
            out.append((f"{span}.jobs", "count"))
    for kind in PIPELINE_KINDS:
        out += [(f"{RUN_PIPELINE}.{kind}.self_s", "s"),
                (f"{RUN_PIPELINE}.{kind}.jobs", "count")]
    out += [(STORAGE_RATIO, "ratio"), (TRACE_OVERHEAD, "s"), (PEAK_RSS, "MB")]
    return out


# layer metric -> (end-to-end metric, workload) it should move; the
# end-to-end names are the ones run.py prints per workload, and the
# bounded metric each one rolls into is given in README.md
MOVES = {
    "operators.star.ingest_increment.self_s": ("backfill_s", "pipeline"),
    "operators.star.ingest_increment.output_mb": ("backfill_s", "pipeline"),
    "operators.star.ingest_increment.shuffle_write_mb": ("daily_run_s", "pipeline"),
    "operators.star.read_ledger.self_s": ("daily_run_s", "pipeline"),
    f"{RUN_PIPELINE}.self_s": ("retry_run_s, daily_run_s", "pipeline"),
    f"{RUN_PIPELINE}.jobs": ("retry_run_s, daily_run_s", "pipeline"),
    f"{RUN_PIPELINE}.retry.jobs": ("retry_run_s", "pipeline"),
    f"{RUN_PIPELINE}.input_mb": ("backfill_s, daily_run_s", "pipeline"),
    f"{RUN_PIPELINE}.output_mb": ("storage_ratio", "pipeline"),
    "plans.kpi.build.self_s": ("kpi_p50_s", "kpi_dashboard"),
    "spark.action.driver_s": ("kpi_p50_s", "kpi_dashboard"),
    "spark.action.task_cpu_s": ("kpi_p90_s", "kpi_dashboard"),
    "spark.action.input_mb": ("kpi_p90_s", "kpi_dashboard"),
    "spark.action.jobs": ("kpi_p90_s", "kpi_dashboard"),
    "operators.dedup.minhash_neardup_pairs.self_s": ("curation_s", "corpus_curation"),
    "operators.dedup.minhash_neardup_pairs.shuffle_write_mb": ("curation_s", "corpus_curation"),
    "operators.graph.dedup_transitive.self_s": ("curation_s", "corpus_curation"),
    "operators.graph.dedup_transitive.jobs": ("curation_s", "corpus_curation"),
    "jobs.corpus_pipeline.curate_corpus.self_s": ("curation_s", "corpus_curation"),
    "session.get_spark.self_s": ("setup_s", "all"),
    "*.gc_s": ("peak_rss_mb", "all"),
    "*.spill_mb": ("peak_rss_mb", "all"),
}
