"""Contract test: every queries() entry runs at sf0.001 and matches its
oracle_sql() twin on DuckDB row-for-row (the same comparison the external
correctness gate makes at sf0.01: row count + sorted-column value equality)."""

from __future__ import annotations

import math
import os
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "nan"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_and_matches_oracle(spark, ddb, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF_DIR)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    res = ddb.sql(entrymod.oracle_sql()[name])
    oracle_cols = [d[0] for d in res.description]
    oracle_rows = res.fetchall()
    assert sorted(cols) == sorted(oracle_cols), (cols, oracle_cols)
    assert len(rows) == len(oracle_rows), (name, len(rows), len(oracle_rows))
    assert _normalize(rows, cols) == _normalize(oracle_rows, oracle_cols), name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["word", "cnt"]


def test_driver_gate_window_invariant():
    """The external correctness gate attests only the first 50 entries of
    queries() per round, so every query that the newest CORRECTNESS_r*.json
    does not vouch for (new, red, or beyond last round's window) must sit
    inside the window."""
    root = Path(__file__).resolve().parent.parent
    rounds = entrymod.hash_green_rounds(root)
    assert rounds, f"no CORRECTNESS_r*.json next to {root}"
    newest = rounds[max(rounds)]
    names = list(entrymod.queries())
    outside = (set(names) - newest) - set(names[:50])
    assert not outside, f"unattested queries outside the 50-entry window: {sorted(outside)}"
    assert set(names) == set(entrymod.oracle_sql())


def test_stale_first_order_is_stable():
    names = ["a", "b", "c", "d", "e"]
    assert entrymod.stale_first_order(names, {}) == names
    rounds = {
        3: {"b", "c", "d"},
        1: {"a", "b", "c", "d"},
        2: {"a", "c"},
    }
    # e: never green; a: last green r2; b, c, d: r3 (ties keep names order)
    assert entrymod.stale_first_order(names, rounds) == ["e", "a", "b", "c", "d"]
    assert entrymod.stale_first_order(["d", "c", "e"], rounds) == ["e", "d", "c"]
