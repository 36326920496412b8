"""Driver-contract conformance: every queries() entry must match its
oracle_sql() in DuckDB exactly (row count + sorted values) at sf0.001 —
a local replica of the driver's CORRECTNESS gate."""

from __future__ import annotations

import math

import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("ENTRY_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return None  # NULL/NaN equivalence, like the engine semantics
        return round(v, 6)
    # duckdb may hand back Decimal for rounded columns
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    return v


def _sort_key(row):
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)


def _rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key
    )


QUERIES = sorted(entrymod.queries())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns[0:3] == ["subj", "pred", "obj"]


def test_every_query_has_oracle():
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    missing = set(qs) - set(osql)
    assert not missing, f"queries without oracle: {missing}"


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, con, name):
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = con.execute(osql[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    got = _rows_to_set(spark_cols, spark_rows)
    exp = _rows_to_set(duck_cols, duck_rows)
    assert len(got) == len(exp), f"{name}: rowcount spark={len(got)} duck={len(exp)}"
    mismatches = [(g, e) for g, e in zip(got, exp) if g != e]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_queries_survive_ansi_on_session(spark):
    """The driver supplies its own SparkSession (Spark 4 defaults ANSI ON);
    _ensure_confs must flip it back before any score math divides by zero."""
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = entrymod.queries()["kg_triples_scored"](spark, SF_DIR)
        assert df.count() > 0
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
