"""Benchmark-decontamination tests (operators/decontaminate.py)."""

import pytest
from pyspark.sql import functions as F

from vision_parse_spark.operators.decontaminate import (
    contamination_hits,
    decontaminate,
)

EVAL_Q = ("what is the capital of france and when was it founded "
          "by whom exactly")


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(1, "the capital of france is paris a lovely city indeed"),
         (2, "completely unrelated text about spark shuffle tuning"),
         # shares exactly ONE distinct 3-gram ("the capital of")
         (3, "nobody knows the capital of atlantis or its founding"),
         (4, "")],
        ["doc_id", "text"])


@pytest.fixture(scope="module")
def eval_set(spark):
    return spark.createDataFrame([(100, EVAL_Q)], ["doc_id", "text"])


def test_contamination_hits_counts_distinct_grams(corpus, eval_set):
    hits = {r.doc_id: r.n_hits for r in
            contamination_hits(corpus, eval_set).collect()}
    # doc 1 shares "the capital of" and "capital of france" -> 2 hits
    assert hits[1] == 2
    assert hits[3] == 1
    assert 2 not in hits and 4 not in hits


def test_decontaminate_threshold(corpus, eval_set):
    kept1 = {r.doc_id for r in
             decontaminate(corpus, eval_set, min_hits=1).collect()}
    assert kept1 == {2, 4}
    kept2 = {r.doc_id for r in
             decontaminate(corpus, eval_set, min_hits=2).collect()}
    assert kept2 == {2, 3, 4}  # one junk-gram collision survives


def test_decontaminate_plan_broadcasts_eval_grams(corpus, eval_set):
    """The corpus side must NOT shuffle for the gram join: eval grams
    broadcast (the 100 TB-train / small-eval shape)."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        decontaminate(corpus, eval_set).explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_decontaminate_rejects_bad_min_hits(corpus, eval_set):
    with pytest.raises(ValueError):
        decontaminate(corpus, eval_set, min_hits=0)


def test_arrow_shingles_equal_catalyst_shingles(spark):
    """make_shingle_udf (the Arrow kernel decontamination explodes)
    must produce EXACTLY with_shingles' gram sets — the identity that
    keeps the DuckDB oracle valid for the Arrow path."""
    from vision_parse_spark.operators.dedup import (
        make_shingle_udf,
        with_shingles,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").union(spark.createDataFrame(
        [(9001, ""), (9002, "   "), (9003, "one"), (9004, "two words"),
         (9005, "a b c\n"), (9006, "\ta b c d"), (9007, "p q\n\n"),
         (9008, "\xa0abc def ghi"), (9009, "x y\u2003z w")],
        ["doc_id", "text"]))
    for n in (3, 5):
        cat = {(r.doc_id, tuple(r.shingles)) for r in
               with_shingles(docs, "text", n).select("doc_id", "shingles")
               .collect()}
        arrow = {(r.doc_id, tuple(r.s)) for r in
                 docs.select("doc_id",
                             make_shingle_udf(n)(F.col("text")).alias("s"))
                 .collect()}
        assert cat == arrow, f"n={n}"


def test_exact_substring_hits(spark):
    from vision_parse_spark.operators.decontaminate import (
        exact_substring_hits)

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "brown fox jumps"),
         (3, "nothing shared")],
        ["doc_id", "text"])
    frags = spark.createDataFrame(
        [(10, "brown fox"), (11, "zebra")], ["frag_id", "fragment"])
    got = sorted((r.doc_id, r.frag_id)
                 for r in exact_substring_hits(corpus, frags).collect())
    assert got == [(1, 10), (2, 10)]


def test_exact_substring_hits_broadcasts_fragments(spark):
    from vision_parse_spark.operators.decontaminate import (
        exact_substring_hits)

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    frags = corpus.limit(2).selectExpr(
        "doc_id as frag_id", "substring(text, 5, 30) as fragment")
    plan = (exact_substring_hits(corpus, frags)
            ._jdf.queryExecution().executedPlan().toString())
    # fragment side broadcast, corpus never shuffles
    assert "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning" not in plan
