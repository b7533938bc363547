"""Seeded tables and the query basket for the ``registry`` workload.

The basket holds registered queries of one cost class: on a 4-CPU host
each takes about 0.2 s to build and collect at these sizes, about 60%
of it driver-side build (``load()``'s schema-inference job plus
analysis). Queries of similar cost keep the latency percentiles inside
the basket's common distribution instead of inside one slow query's.
Each reads one of four tables, so each pays one ``load()``.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

BASKET = (
    "top_orders",
    "events_time_filter",
    "doc_token_positions",
    "orders_multisort",
    "golayout_render",
    "strftime_render",
)

TABLES = ("events", "orders", "documents", "customer")

_EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
_WORDS = (
    "the of stream shard record template render token batch query plan "
    "spark watcher lookback cursor offset commit latency window state"
).split()


def write_tables(dir_path: str, seed: int) -> None:
    """Write the basket's four tables as ``<dir>/<table>.parquet``, in
    the testdata layout (naive microsecond timestamps)."""
    rng = random.Random(seed)
    jan_2024_us = 1_704_067_200_000_000
    month_us = 31 * 86_400 * 1_000_000
    ts_type = pa.timestamp("us")

    n = 1000
    events = {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([jan_2024_us + rng.randrange(month_us) for _ in range(n)], ts_type),
        "user_id": pa.array([rng.randrange(100) for _ in range(n)], pa.int64()),
        "event_type": pa.array([rng.choice(_EVENT_TYPES) for _ in range(n)]),
        "value": pa.array([round(rng.uniform(0, 500), 2) for _ in range(n)], pa.float64()),
        "props": pa.array([f'{{"k": {rng.randrange(10)}}}' for _ in range(n)]),
    }
    n = 1500
    orders = {
        "o_orderkey": pa.array(range(1, n + 1), pa.int64()),
        "o_custkey": pa.array([rng.randrange(1, 151) for _ in range(n)], pa.int64()),
        "o_orderstatus": pa.array([rng.choice("FOP") for _ in range(n)]),
        # few distinct prices, so the sorts need their tie-break keys
        "o_totalprice": pa.array([rng.randrange(1000, 3000) * 50.25 for _ in range(n)], pa.float64()),
        "o_orderdate": pa.array([jan_2024_us + rng.randrange(12 * month_us) for _ in range(n)], ts_type),
        "o_orderpriority": pa.array([f"{rng.randrange(1, 6)}-PRIO" for _ in range(n)]),
    }
    n = 500
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(3, 40))) for _ in range(n)]
    documents = {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([rng.choice(["en", "de", "fr"]) for _ in range(n)]),
        "source": pa.array([rng.choice(["web", "books", "code"]) for _ in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    n = 150
    customer = {
        "c_custkey": pa.array(range(1, n + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n + 1)]),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
        "c_acctbal": pa.array([round(rng.uniform(-999, 9999), 2) for _ in range(n)], pa.float64()),
        "c_mktsegment": pa.array([rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY"]) for _ in range(n)]),
    }
    for name, cols in zip(TABLES, (events, orders, documents, customer)):
        pq.write_table(pa.table(cols), os.path.join(dir_path, f"{name}.parquet"))


def oracle_results(dir_path: str, oracles: dict[str, str]) -> dict:
    """Each basket query's oracle result, as DuckDB computes it over the
    same files (the views the repo's correctness check creates)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dir_path}/{t}.parquet'")
        return {name: con.sql(sql).df() for name, sql in oracles.items()}
    finally:
        con.close()
