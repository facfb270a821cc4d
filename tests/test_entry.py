"""Mirror of the driver's correctness gate: run every queries() entry at
sf0.01 and compare against its oracle_sql() in DuckDB — row count, column
names, and order-insensitive value multiset."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def _rowset(rows):
    return sorted(tuple(_norm(v) for v in r) for r in rows)


ORACLES = E.oracle_sql()
QUERIES = E.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, con, name):
    qdf = QUERIES[name](spark, SF_DIR)
    odf = con.execute(ORACLES[name]).df()
    got_cols = sorted(qdf.columns)
    exp_cols = sorted(odf.columns)
    assert got_cols == exp_cols, f"{name}: column mismatch {got_cols} vs {exp_cols}"
    gpdf = qdf.toPandas()
    got = _rowset(map(tuple, gpdf[exp_cols].astype(object).values.tolist()))
    exp = _rowset(map(tuple, odf[exp_cols].astype(object).values.tolist()))
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    assert got == exp, f"{name}: value mismatch; first diff: " + str(
        next((a, b) for a, b in zip(got, exp) if a != b)
    )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    df.limit(5).collect()


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"tile_l8", "n_spans", "n_docs", "n_media"} <= set(df.columns)


def test_driver_window_is_oracle_checked():
    """The driver checks the first 50 queries(): each of them has an
    oracle_sql() entry, and every oracle names a query."""
    window = list(QUERIES)[:50]
    assert len(window) == 50
    assert [n for n in window if n not in ORACLES] == []
    assert sorted(set(ORACLES) - set(QUERIES)) == []
