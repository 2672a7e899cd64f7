"""Driver-contract smoke: entry() runs, every queries() entry returns
rows with stable schema at sf0.001, and each oracle_sql() entry parses
and matches on DuckDB (full value-hash parity is exercised by
tools/check_oracle.py and the driver at sf0.01)."""

import hashlib
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return c


def _value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].astype(str)
    rows = pdf.agg("\x1f".join, axis=1).sort_values()
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "markdown" in df.columns


def test_every_query_runs(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name
        assert df.columns, name


def test_package_shipped_once_per_context(spark, monkeypatch):
    """Two contract reads ship the package zip at most once (none if an
    earlier test shipped it): Spark refuses to add a path twice and
    logs a warning for every repeat."""
    sc = spark.sparkContext
    calls = []

    def add(path, _real=sc.addPyFile):
        calls.append(path)
        _real(path)

    monkeypatch.setattr(sc, "addPyFile", add)
    entrymod._t(spark, SF_DIR, "documents")
    entrymod._t(spark, SF_DIR, "embeddings")
    assert len(calls) <= 1, calls


def test_oracle_keys_subset_of_queries():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert o <= q, o - q


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_oracle_parity(spark, con, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = con.execute(entrymod.oracle_sql()[name]).df()
    assert len(sdf) == len(odf), f"{name}: row count"
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: columns"
    assert _value_hash(sdf) == _value_hash(odf), f"{name}: value hash"
