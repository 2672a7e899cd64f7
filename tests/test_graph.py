"""Graph ops (operators/graph.py) + unicode normalization
(functions/normalize.py).

PageRank: hand-checkable two-node chain, python-model parity on a
random-ish graph, rank conservation (sums to 1), dangling-node mass
redistribution, duplicate-timestamp determinism via the id tiebreak,
validation.  Cohort retention: hand-built weekly matrix, offset-0 =
cohort size, NULL-ts drop.  Normalize: NFC composition/idempotence,
NFD round trip, NULL passthrough, validation.
"""

import unicodedata
from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from vision_parse_spark.functions.normalize import (
    normalize_series, normalize_text)
from vision_parse_spark.operators.graph import (
    cohort_retention, transition_edges, transition_pagerank)


def _events(spark, rows):
    # rows: (event_id, user_id, ts, event_type)
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")


TS = datetime


def test_transition_edges_counts(spark):
    e = _events(spark, [
        (1, 1, TS(2024, 1, 1, 0), "a"),
        (2, 1, TS(2024, 1, 1, 1), "b"),
        (3, 1, TS(2024, 1, 1, 2), "a"),
        (4, 2, TS(2024, 1, 1, 0), "a"),
        (5, 2, TS(2024, 1, 1, 1), "b"),
        (6, 3, TS(2024, 1, 1, 0), "c"),   # lone event: no edge
        (7, 4, None, "a"),                # NULL ts: dropped
    ])
    got = {(r.src, r.dst): r.cnt
           for r in transition_edges(e).collect()}
    assert got == {("a", "b"): 2, ("b", "a"): 1}


def test_transition_edges_equal_ts_id_tiebreak(spark):
    # equal timestamps: order is (ts, event_id) — deterministic
    e = _events(spark, [
        (2, 1, TS(2024, 1, 1), "x"),
        (1, 1, TS(2024, 1, 1), "y"),
    ])
    got = {(r.src, r.dst) for r in transition_edges(e).collect()}
    assert got == {("y", "x")}


def _pagerank_model(edges, nodes, d=0.85, n_iter=5):
    # plain-python reference (float sums; operator is an ordered
    # fold — equal up to reassociation, asserted at 1e-12)
    out = {}
    for (s, t), c in edges.items():
        out[s] = out.get(s, 0) + c
    r = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(n_iter):
        dang = sum(r[v] for v in nodes if v not in out)
        nr = {}
        for v in nodes:
            inc = sum(r[s] * c / out[s]
                      for (s, t), c in edges.items() if t == v)
            nr[v] = (1 - d) / len(nodes) + d * (inc + dang / len(nodes))
        r = nr
    return r


def test_pagerank_matches_python_model_and_conserves(spark):
    rows, eid = [], 0
    seq = {1: "abcab", 2: "bcacb", 3: "aab", 4: "ccc", 5: "abd"}
    for u, s in seq.items():
        for i, t in enumerate(s):
            eid += 1
            rows.append((eid, u, TS(2024, 1, 1, i), t))
    e = _events(spark, rows)
    edges = {(r.src, r.dst): r.cnt
             for r in transition_edges(e).collect()}
    nodes = sorted({t for s in seq.values() for t in s})
    want = _pagerank_model(edges, nodes)
    got = {r.node: r["rank"]
           for r in transition_pagerank(e).collect()}
    assert set(got) == set(want)
    for v in nodes:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_dangling_mass(spark):
    # a -> b, b has no out-edges: b's rank must exceed a's, and the
    # dangling redistribution keeps the total at 1
    e = _events(spark, [(1, 1, TS(2024, 1, 1, 0), "a"),
                        (2, 1, TS(2024, 1, 1, 1), "b")])
    got = {r.node: r["rank"]
           for r in transition_pagerank(e).collect()}
    assert got["b"] > got["a"]
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_validation(spark):
    e = _events(spark, [(1, 1, TS(2024, 1, 1), "a")])
    with pytest.raises(ValueError, match="damping"):
        transition_pagerank(e, damping=1.0)
    with pytest.raises(ValueError, match="n_iter"):
        transition_pagerank(e, n_iter=0)


def test_pagerank_empty_events(spark):
    e = _events(spark, []).filter("event_id IS NOT NULL")
    assert transition_pagerank(e).collect() == []


def test_pagerank_null_type_events_hold_no_mass(spark):
    """NULL-type events are dropped before pairing, as NULL-ts ones
    are: no node holds mass it cannot pass on, the ranks sum to 1 and
    the DuckDB replay agrees bit for bit."""
    import duckdb

    from vision_parse_spark.operators.graph import transition_pagerank_sql

    e = _events(spark, [
        (1, 1, TS(2024, 1, 1, 0), "a"),
        (2, 1, TS(2024, 1, 1, 1), None),
        (3, 1, TS(2024, 1, 1, 2), "b"),
        (4, 2, TS(2024, 1, 1, 0), "b"),
        (5, 2, TS(2024, 1, 1, 1), "a"),
        (6, 2, TS(2024, 1, 1, 2), None),
        (7, 3, TS(2024, 1, 1, 0), "c"),
    ])
    got = {r.node: r["rank"] for r in transition_pagerank(e).collect()}
    con = duckdb.connect()
    con.register("events", e.toPandas())
    assert got == dict(con.execute(transition_pagerank_sql()).fetchall())
    assert set(got) == {"a", "b", "c"}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_builds_with_no_spark_job(spark):
    """The power iteration is one grouped-map task: building the
    DataFrame runs no job, and materializing it a bounded few."""
    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    pr, n = jobs("pagerank-build", lambda: transition_pagerank(e))
    assert n == 0, n
    _, n = jobs("pagerank-write", lambda: pr.write.format("noop")
                .mode("overwrite").save())
    assert 0 < n <= 6, n


def test_cohort_retention_matrix(spark):
    # u1 first in wk0, active wk0+wk2; u2 first wk0, active wk0;
    # u3 first wk2, active wk2+wk3; NULL ts dropped
    w0, w2, w3 = TS(2024, 1, 1), TS(2024, 1, 15), TS(2024, 1, 22)
    e = _events(spark, [
        (1, 1, w0, "a"), (2, 1, TS(2024, 1, 16), "a"),
        (3, 2, TS(2024, 1, 3), "a"),
        (4, 3, w2, "a"), (5, 3, w3, "a"),
        (6, 4, None, "a"),
    ])
    got = {(str(r.cohort_week), r.week_offset): r.n_users
           for r in cohort_retention(e).collect()}
    assert got == {("2024-01-01", 0): 2, ("2024-01-01", 2): 1,
                   ("2024-01-15", 0): 1, ("2024-01-15", 1): 1}


def test_cohort_offset0_is_cohort_size(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ret = cohort_retention(e)
    first = (e.filter(F.col("ts").isNotNull())
              .select("user_id",
                      F.to_date(F.date_trunc("week", "ts"))
                       .alias("wk"))
              .groupBy("user_id").agg(F.min("wk").alias("cw"))
              .groupBy("cw").count())
    got = {str(r.cohort_week): r.n_users
           for r in ret.filter("week_offset = 0").collect()}
    want = {str(r.cw): r["count"] for r in first.collect()}
    assert got == want


def test_normalize_series_nfc_nfd():
    s = pd.Series(["Café", "plain", None])
    nfc = normalize_series(s, "NFC")
    assert nfc[0] == "Café"
    assert nfc[1] == "plain"
    assert nfc[2] is None or pd.isna(nfc[2])
    # NFD round trip
    back = normalize_series(nfc.fillna(""), "NFD")
    assert back[0] == "Café"
    # idempotence
    assert normalize_series(nfc.fillna(""), "NFC")[0] == "Café"
    with pytest.raises(ValueError, match="form"):
        normalize_series(s, "NFX")


def test_normalize_text_spark(spark):
    df = spark.createDataFrame(
        [(1, "Café"), (2, "x"), (3, None)], "id long, t string")
    out = {r.id: r.t_nfc
           for r in normalize_text(df, "t", "NFC").collect()}
    assert out[1] == unicodedata.normalize("NFC", "Café")
    assert out[2] == "x"
    assert out[3] is None
    with pytest.raises(ValueError, match="form"):
        normalize_text(df, "t", "bogus")
