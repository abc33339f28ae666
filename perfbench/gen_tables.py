"""Seeded parquet tables for the dashboard and curation workloads.

The tables reproduce the shape of the repo's sf0.1 testdata (TESTDATA.md),
measured on those tables: the same table and column names, parquet types
and row counts, the same key cardinalities and value ranges, uniform
draws where the testdata's are uniform, and the same planted near-copies
in ``documents``. They are generated from the benchmark seed so that a
run reads nothing outside its own directory.

Only the tables the five KPI queries and the curation job read are made:
``nation``, ``supplier``, ``customer``, ``orders``, ``lineitem`` and
``documents``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
DOCS = 5000  # documents rows at sf0.1
# documents at sf0.1 that are another document's text plus " dup"
NEAR_COPIES = 250
KPI_TABLES = ["nation", "supplier", "customer", "orders", "lineitem"]

# the testdata corpus vocabulary: 'the' and 'a' are stopwords, so the
# quality gate passes every document
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_SHARES = [0.4, 0.15, 0.15, 0.15, 0.15]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_kpi_tables(seed: int, out_dir: str) -> None:
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_orders = int(10_000 * SF), int(150_000 * SF), int(1_500_000 * SF)
    nat = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(nat),
        "n_name": pa.array([f"NATION_{i}" for i in nat]),
        "n_regionkey": pa.array(nat % 5),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(25, size=n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(25, size=n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(5, size=n_cust)]),
    })
    first = np.datetime64("1995-01-01", "us")
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).item().days)
    day = np.timedelta64(1, "D").astype("timedelta64[us]")
    odate = first + rng.integers(span_days + 1, size=n_orders) * day
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(n_cust, size=n_orders)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(3, size=n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(5, size=n_orders)]),
    })
    # each line item belongs to a uniformly drawn order (so about 2% of
    # orders have none) and ships on a date drawn independently of it
    n_lines = int(6_000_000 * SF)
    ship_first = np.datetime64("1995-01-02", "us")
    ship_days = int((np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).item().days)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(n_orders, size=n_lines)),
        "l_partkey": pa.array(rng.integers(int(200_000 * SF), size=n_lines)),
        "l_suppkey": pa.array(rng.integers(n_supp, size=n_lines)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_lines, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_lines) / 100.0),
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(3, size=n_lines)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(2, size=n_lines)]),
        "l_shipdate": pa.array(ship_first + rng.integers(ship_days + 1, size=n_lines) * day),
    })


def make_documents(seed: int) -> list[str]:
    """Documents of 10-99 words drawn uniformly from the vocabulary, with
    the testdata's near copies: ``NEAR_COPIES`` distinct rows are
    overwritten, one after another, by the current text of a uniformly
    drawn row plus " dup". As in the testdata, a copy is now and then
    copied again ("... dup dup") and two copies of one row are exact
    duplicates of each other; there are no short documents and no PII."""
    rng = np.random.default_rng(seed)
    words = np.array(VOCAB)
    docs = [" ".join(words[rng.integers(len(words), size=k)])
            for k in rng.integers(10, 100, size=DOCS)]
    targets = rng.permutation(DOCS)[:NEAR_COPIES]
    for i, j in zip(targets, rng.integers(DOCS, size=NEAR_COPIES)):
        docs[i] = docs[j] + " dup"
    return docs


def write_documents(seed: int, out_dir: str, n: int = DOCS) -> None:
    """The documents table, or its first ``n`` rows."""
    rng = np.random.default_rng(seed + 1)
    docs = make_documents(seed)[:n]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": pa.array(rng.choice(LANGS, size=DOCS, p=LANG_SHARES)[:n]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(d) for d in docs], dtype=np.int64)),
    })
