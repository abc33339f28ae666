"""Tests for the benchmark's own parts: the flight CSV generator, the
span arithmetic, Spark counter attribution and BENCHMARK.json.

Run with ``python -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import json
import os

from perfbench import gen_flights, layers
from perfbench.spans import SparkProbe, Tracer, check_windows, covered, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_generator_is_deterministic_per_seed():
    a, b = gen_flights.flight_days(5, 300), gen_flights.flight_days(5, 300)
    assert [r.line for r in a.daily] == [r.line for r in b.daily]
    assert a.daily_expected == b.daily_expected
    c = gen_flights.flight_days(6, 300)
    assert [r.line for r in a.base] != [r.line for r in c.base]


def test_generator_expected_counts_tiny():
    fd = gen_flights.flight_days(3, 1000)
    n_dups, n_fresh, n_resent = 20, 100, 10  # DUP_RATE, NEW_FRAC, RESENT_FRAC of 1000
    base, daily = fd.base_expected, fd.daily_expected
    assert base.source == 1000 + n_dups and base.deduped == base.new == 1000
    # the fresh rows carry their own planted duplicates
    assert daily.source == base.source + n_fresh + n_fresh // 50 + n_resent
    assert daily.deduped == 1100 and daily.new == n_fresh
    # losses stay within the 1% reconcile budget but are never zero
    assert 0 < base.deduped - base.fact <= base.deduped // 100
    lines = [r.line for r in fd.base]
    assert len(set(lines)) == base.deduped
    zero_fares = {r.line for r in fd.base if ",0,0,0," in r.line}
    assert len(zero_fares) == base.invalid
    bad_dates = {r.line for r in fd.base if "not-a-date" in r.line}
    assert base.fact == base.deduped - base.invalid - len(bad_dates)


def test_generator_losses_are_planted_exactly():
    """Zero fares and bad dates are exact counts, so no seed pushes the
    loss over the 1% budget."""
    for seed in range(30):
        fd = gen_flights.flight_days(seed, 2000)
        base, daily = fd.base_expected, fd.daily_expected
        assert base.invalid == 6 and base.deduped - base.fact == 12
        assert daily.invalid == 7 and daily.deduped - daily.fact == 14


def test_expected_counts_match_the_pipeline(spark, tmp_path):
    """The generator's counts are what ``run_pipeline`` reports for a
    backfill, the next day's file and a retry of it."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    fd = gen_flights.flight_days(9, 400)
    base, daily = str(tmp_path / "base.csv"), str(tmp_path / "daily.csv")
    gen_flights.write_csv(base, fd.base)
    gen_flights.write_csv(daily, fd.daily)
    wh = str(tmp_path / "wh")
    for csv, exp, new in [(base, fd.base_expected, fd.base_expected.new),
                          (daily, fd.daily_expected, fd.daily_expected.new),
                          (daily, fd.daily_expected, 0)]:
        r = run_pipeline(spark, csv, wh)
        assert r["passed"]
        assert (r["source_rows"], r["deduped_rows"], r["fact_rows"],
                r["ingested_new_rows"], r["rows_dropped_invalid"], r["dims"]) == (
            exp.source, exp.deduped, exp.fact, new, exp.invalid, exp.dims)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered([], 0, 1) == 0


class FakeProbe:
    """Advances the clock as a real probe's py4j calls take time: 0.1 s
    per ID mark, 0.2 s per counter read. Reports every second of a
    span's window that is not tracer time as driver time."""

    def __init__(self, clock: FakeClock):
        self.clock = clock

    def mark(self):
        self.clock.t += 0.1
        return (0, 0)

    def counters(self, before, after, epoch_lo, epoch_hi, tracer_s=0.0):
        self.clock.t += 0.2
        return {"jobs": 0, "driver_s": (epoch_hi - epoch_lo) - tracer_s}


def _synthetic_tree(probe: bool):
    clock = FakeClock()
    tr = Tracer(clock=clock, epoch=clock)
    if probe:
        tr.probe = FakeProbe(clock)
    lo = clock()
    with tr.span("root"):
        clock.t += 1.0
        with tr.span("a"):
            clock.t += 2.0
            with tr.span("a1"):
                clock.t += 0.5
        clock.t += 0.5
        with tr.span("b"):
            clock.t += 3.0
        clock.t += 3.0
    tr.windows.append((lo, clock()))
    return tr


def test_self_time_on_synthetic_tree():
    tr = _synthetic_tree(probe=False)
    root, a, a1, b = range(4)
    assert [self_time(tr.spans, i) for i in (root, a, a1, b)] == [4.5, 2.0, 0.5, 3.0]
    assert tr.spans[a].children == [a1] and tr.spans[root].children == [a, b]
    assert tr.overhead_s == 0 and tr.spans[root].wall == 10.0
    assert check_windows(tr.spans, tr.windows) == []
    agg = tr.aggregate()
    assert agg["root"]["self_s"] == 4.5 and agg["a1"]["calls"] == 1


def test_tracer_time_stays_out_of_self_and_driver_time():
    """Each span's ID marks and counter reads land in its own overhead:
    no span's self time or driver time grows with the tracing of its
    descendants, and self time plus overhead adds up to the measured op."""
    tr = _synthetic_tree(probe=True)
    root, a, a1, b = range(4)
    approx = lambda xs: [round(x, 9) for x in xs]  # noqa: E731
    assert approx(self_time(tr.spans, i) for i in (root, a, a1, b)) == [4.5, 2.0, 0.5, 3.0]
    # two marks and one counter read per span
    assert approx(s.overhead for s in tr.spans) == [0.4] * 4
    assert round(tr.spans[root].wall, 9) == 10.0 + 4 * 0.4
    # driver time is the span's own and its descendants' program time
    assert approx(s.counters["driver_s"] for s in tr.spans) == [10.0, 2.5, 0.5, 3.0]
    assert check_windows(tr.spans, tr.windows) == []


def test_check_windows_flags_untraced_time():
    tr = _synthetic_tree(probe=True)
    lo, hi = tr.windows[0]
    # time in the op that no span accounts for
    assert check_windows(tr.spans, [(lo, hi + 0.5)])
    assert check_windows(tr.spans, tr.windows) == []
    # time counted twice: a child span overlapping its sibling
    tr.spans[3].start = tr.spans[1].start
    assert check_windows(tr.spans, tr.windows)


def test_patch_wraps_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    tr.patch(Owner, "f", "owner.f")
    assert Owner.f(1) == 2 and [s.name for s in tr.spans] == ["owner.f"]
    tr.unpatch()
    assert Owner.f(1) == 2 and len(tr.spans) == 1


def test_stage_attribution_by_new_ids(spark):
    """Each span gets exactly the jobs and stages allocated while it was
    open: sequential spans split the work, a parent includes its child,
    a span that runs nothing gets none."""
    tr = Tracer()
    tr.probe = SparkProbe(spark.sparkContext)
    before = tr.probe.mark()
    with tr.span("outer"):
        with tr.span("first"):
            spark.range(0, 1000, numPartitions=3).count()
        with tr.span("idle"):
            pass
        with tr.span("second"):
            spark.range(0, 1000, numPartitions=2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    after = tr.probe.mark()
    outer, first, idle, second = (s.counters for s in tr.spans)
    assert first["jobs"] >= 1 and second["jobs"] >= 1
    assert idle["jobs"] == 0 and idle["tasks"] == 0
    assert outer["jobs"] == first["jobs"] + second["jobs"] == after[0] - before[0]
    assert outer["tasks"] == first["tasks"] + second["tasks"]
    assert first["tasks"] >= 3
    assert second["shuffle_write_mb"] > 0 and first["shuffle_write_mb"] >= 0
    assert 0 <= outer["driver_s"] <= tr.spans[0].wall


def test_benchmark_json_lists_the_layer_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.per_layer_metrics()
    assert {w["name"] for w in bench["workloads"]} == {"pipeline", "kpi_dashboard",
                                                       "corpus_curation"}
    assert len(bench["per_layer"]) <= 128
    for metric in layers.MOVES:
        if not metric.startswith("*."):
            assert metric in {m["name"] for m in bench["per_layer"]}, metric
