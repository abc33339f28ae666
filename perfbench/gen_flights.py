"""Seeded generator of dirty flight-price CSVs with their expected counts.

The dirty-row mix follows ``tests/test_flight_pipeline.py``: exact
duplicate lines, zero fares, unparseable departure dates, whitespace and
case noise on the text columns, and several spellings of the stopovers
field. Zero fares and bad dates are the only rows the pipeline may lose.
They are planted in exact numbers, not drawn row by row, so at every seed
and size they stay under the 1% loss budget of ``validation.py``.

Every expected count is computed here, in Python, from the lines written,
so the benchmark can check the pipeline's report without trusting Spark:

- ``source``: data lines in the file;
- ``deduped``: distinct lines (the hash ledger keys on the raw strings);
- ``new``: distinct lines not present in the previous file;
- ``invalid``: distinct lines the validity filter drops (zero fares);
- ``fact``: distinct lines with a positive fare and a parseable date;
- ``dims``: distinct cleaned airlines, airport codes and departure dates
  among the rows that pass the fare/duration validity filter.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np

from airflow_project_flight_price_analysis_spark.sources.flights_csv import RENAME_MAP

HEADER = ",".join(RENAME_MAP)

AIRLINES = [
    "biman bangladesh airlines", "us-bangla airlines", "novoair",
    "air astra", "regent airways", "air arabia", "emirates", "qatar airways",
    "singapore airlines", "thai airways", "malaysian airlines", "indigo",
    "vistara", "air india", "srilankan airlines", "cathay pacific",
    "turkish airlines", "etihad airways", "flydubai", "saudia",
    "gulf air", "kuwait airways", "oman air", "china eastern",
    "china southern", "air china", "maldivian", "himalaya airlines",
]
AIRPORTS = [
    ("DAC", "hazrat shahjalal intl"), ("CGP", "shah amanat intl"),
    ("CXB", "cox's bazar airport"), ("ZYL", "osmani intl"),
    ("JSR", "jessore airport"), ("RJH", "shah makhdum airport"),
    ("SPD", "saidpur airport"), ("BZL", "barisal airport"),
    ("DXB", "dubai intl"), ("DOH", "hamad intl"), ("SIN", "changi airport"),
    ("BKK", "suvarnabhumi airport"), ("KUL", "kuala lumpur intl"),
    ("CCU", "netaji subhas chandra bose intl"), ("DEL", "indira gandhi intl"),
    ("JED", "king abdulaziz intl"), ("IST", "istanbul airport"),
    ("LHR", "heathrow airport"),
]
AIRCRAFT = ["Boeing 737", "Boeing 787", "Airbus A320", "Airbus A330",
            "ATR 72", "Dash 8", "Boeing 777"]
CLASSES = ["economy", "business", "first class"]
BOOKING = ["online", "travel agency", "direct booking"]
SEASONS = ["Regular", "Eid", "Hajj", "Winter Holidays"]
# spellings parse_stopovers_expr maps to 0, 1 and 2 stops
STOPOVERS = ["Direct", "direct", "non-stop", "Non Stop", "1 Stop", "1 stop",
             "2 Stops", "2 stops"]

DUP_RATE = 0.02        # exact duplicate lines
ZERO_FARE_RATE = 0.003  # total fare 0 -> dropped by the validity filter
BAD_DATE_RATE = 0.003   # unparseable departure -> dropped from the fact
ZERO_FARE, BAD_DATE = 1, 2  # fault kinds
NOISE_RATE = 0.05       # whitespace / case noise on text columns
NEW_FRAC = 0.10         # a day's fresh rows, as a share of the backfill
RESENT_FRAC = 0.01      # a day's re-sent old lines
START = "2025-01-01"
DAYS = 730


class FlightRow(NamedTuple):
    line: str
    airline: int  # index into AIRLINES; text noise cleans back to it
    src: str
    dst: str
    date: dt.date | None
    valid: bool  # passes the fare/duration validity filter


@dataclass
class Expected:
    source: int
    deduped: int
    new: int
    invalid: int
    fact: int
    dims: dict = field(default_factory=dict)


def _noisy(text: str, kind: int) -> str:
    return (f" {text} ", text.upper(), f"{text}  ", text.title())[kind]


def _stamps(minutes: np.ndarray) -> list[str]:
    t = np.datetime64(START, "m") + minutes.astype("timedelta64[m]")
    return [s.replace("T", " ") for s in
            np.datetime_as_string(t.astype("datetime64[s]"), unit="s").tolist()]


def make_rows(seed: int, n: int, first_uid: int = 0) -> list[FlightRow]:
    """``n`` distinct rows plus ``DUP_RATE`` exact duplicates of them,
    shuffled. Columns are drawn as numpy arrays, then formatted."""
    rng = np.random.default_rng(seed)
    airline = rng.integers(len(AIRLINES), size=n)
    src = rng.integers(len(AIRPORTS), size=n)
    # a second index that never equals the first: offset by 1..k-1
    dst = (src + rng.integers(1, len(AIRPORTS), size=n)) % len(AIRPORTS)
    # uids 7 minutes apart keep base rows distinct, so duplicates are
    # only the ones planted below
    dep_min = (np.arange(first_uid, first_uid + n) * 7) % (DAYS * 1440)
    hours = np.round(rng.uniform(0.75, 14.0, n), 2)
    arr_min = dep_min + np.round(hours * 60).astype(np.int64)
    base = np.round(rng.uniform(2000.0, 90000.0, n), 2)
    tax = np.round(base * rng.uniform(0.08, 0.22, n), 2)
    total = np.round(base + tax, 2)
    craft, cls, booking, season, stops = (
        rng.integers(len(vals), size=n).tolist()
        for vals in (AIRCRAFT, CLASSES, BOOKING, SEASONS, STOPOVERS))
    days_before = rng.integers(1, 91, size=n).tolist()
    noise_col = np.where(rng.random(n) < NOISE_RATE,
                         rng.integers(7, size=n), -1).tolist()
    noise_kind = rng.integers(4, size=n).tolist()
    # exactly round(n * rate) rows of each fault, at distinct positions
    n_zero, n_bad = round(n * ZERO_FARE_RATE), round(n * BAD_DATE_RATE)
    fault = np.zeros(n, dtype=np.int8)
    picked = rng.choice(n, size=n_zero + n_bad, replace=False)
    fault[picked[:n_zero]], fault[picked[n_zero:]] = ZERO_FARE, BAD_DATE
    fault = fault.tolist()
    dep_s, arr_s = _stamps(dep_min), _stamps(arr_min)
    start = dt.date.fromisoformat(START)
    dates = [start + dt.timedelta(days=d) for d in range(DAYS)]
    day = (dep_min // 1440).tolist()
    airline, src, dst = airline.tolist(), src.tolist(), dst.tolist()
    hours, base, tax, total = (a.tolist() for a in (hours, base, tax, total))

    rows = []
    for i in range(n):
        texts = [AIRLINES[airline[i]], AIRPORTS[src[i]][1], AIRPORTS[dst[i]][1],
                 AIRCRAFT[craft[i]], CLASSES[cls[i]], BOOKING[booking[i]],
                 SEASONS[season[i]]]
        if noise_col[i] >= 0:
            texts[noise_col[i]] = _noisy(texts[noise_col[i]], noise_kind[i])
        fares = (base[i], tax[i], total[i])
        d_s, a_s, date, valid = dep_s[i], arr_s[i], dates[day[i]], True
        if fault[i] == ZERO_FARE:
            fares, valid = (0, 0, 0), False
        elif fault[i] == BAD_DATE:
            d_s, a_s, date = "not-a-date", "also-not", None
        src_code, dst_code = AIRPORTS[src[i]][0], AIRPORTS[dst[i]][0]
        line = ",".join([
            texts[0], src_code, texts[1], dst_code, texts[2], d_s, a_s,
            str(hours[i]), STOPOVERS[stops[i]], texts[3], texts[4], texts[5],
            str(fares[0]), str(fares[1]), str(fares[2]), texts[6],
            str(days_before[i]),
        ])
        rows.append(FlightRow(line, airline[i], src_code, dst_code, date, valid))
    rows += [rows[j] for j in rng.integers(n, size=int(n * DUP_RATE))]
    return [rows[j] for j in rng.permutation(len(rows))]


def expected(rows: list[FlightRow], seen: set[str] | None = None) -> Expected:
    """Counts the pipeline must report after ingesting ``rows`` over a
    ledger that already holds the lines in ``seen`` (a cumulative file
    rebuilds the star from every line ever ingested)."""
    distinct: dict[str, FlightRow] = {}
    for r in rows:
        distinct.setdefault(r.line, r)
    valid = [r for r in distinct.values() if r.valid]
    return Expected(
        source=len(rows),
        deduped=len(distinct),
        new=len(distinct.keys() - (seen or set())),
        invalid=len(distinct) - len(valid),
        fact=sum(r.date is not None for r in valid),
        dims={
            "dim_airlines": len({r.airline for r in valid}),
            "dim_airports": len({r.src for r in valid} | {r.dst for r in valid}),
            "dim_date": len({r.date for r in valid if r.date is not None}),
        },
    )


def write_csv(path: str, rows: list[FlightRow]) -> int:
    """Write ``rows`` under the vendor header; returns bytes written."""
    text = HEADER + "\n" + "\n".join(r.line for r in rows) + "\n"
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return len(text.encode("utf-8"))


@dataclass
class FlightDays:
    """A backfill file and one daily cumulative file built on top of it."""
    base: list[FlightRow]
    daily: list[FlightRow]
    base_expected: Expected
    daily_expected: Expected


def flight_days(seed: int, n: int) -> FlightDays:
    """Base rows, then the next day's cumulative file: every base line,
    ``NEW_FRAC`` fresh rows and ``RESENT_FRAC`` re-sent old lines."""
    base = make_rows(seed, n)
    fresh = make_rows(seed + 1, int(n * NEW_FRAC), first_uid=n)
    pick = np.random.default_rng(seed + 2).integers(len(base), size=int(n * RESENT_FRAC))
    resent = [base[j] for j in pick]
    daily = base + fresh + resent
    base_exp = expected(base)
    return FlightDays(
        base=base,
        daily=daily,
        base_expected=base_exp,
        daily_expected=expected(daily, seen={r.line for r in base}),
    )
