"""Round-7 optimization pins: every rewritten kernel must be
EXACTLY equivalent to the construction it replaced — same integers,
same IEEE doubles — across the in-tree twins that still exist.

These are the internals-changed tests the optimization round rules
ask for; the cross-engine proof stays with tools/check_oracle.py."""

from __future__ import annotations

import random
import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# --- _fold_dot: bit-exact twin of the Catalyst float fold ----------

def test_fold_dot_bitwise_matches_catalyst_fold(spark):
    """The exact-verify kernel's dot/norm arithmetic (products in the
    vectors' own width, strict left-to-right float64 accumulation)
    must equal the interpreted Catalyst ``aggregate(zip_with(a, b,
    x*y), 0.0D, acc+v)`` fold BIT FOR BIT, over ``array<float>``
    (embedding_near_dups, the IVF cell assignment) and
    ``array<double>`` (SemDeDup's ``_v``) — the pair sets depend on
    the raw double crossing the threshold."""
    from vision_parse_spark.operators.similarity import _fold_dot

    rng = np.random.default_rng(17)
    dim = 23  # odd, non-power-of-two on purpose
    for elem, np_t in [("float", np.float32), ("double", np.float64)]:
        a = rng.standard_normal((64, dim)).astype(np_t)
        b = (rng.standard_normal((64, dim)) * 100).astype(np_t)
        rows = [(i, [float(x) for x in a[i]], [float(x) for x in b[i]])
                for i in range(len(a))]
        df = spark.createDataFrame(
            rows, f"i int, a array<{elem}>, b array<{elem}>")
        got = {
            r["i"]: r["d"]
            for r in df.select(
                "i",
                F.aggregate(
                    F.zip_with("a", "b", lambda x, y: x * y),
                    F.lit(0.0).cast("double"),
                    lambda acc, v: acc + v,
                ).alias("d"),
            ).collect()
        }
        want = _fold_dot(a, b)
        for i in range(len(a)):
            assert struct.pack("<d", got[i]) == struct.pack(
                "<d", want[i]), (f"{elem} row {i}: catalyst {got[i]!r}"
                                 f" != kernel {want[i]!r}")


# --- rouge kernel vs a Counter reference ---------------------------

def test_rouge_kernel_equals_counter_reference(spark):
    """``rouge_n_pairs`` against a driver-side Python ROUGE-2 recall:
    clipped bigram overlap over reference bigrams of the whitespace
    token stream, rounded to 6 places; pairs whose reference has no
    bigram (empty, one token) are absent."""
    from collections import Counter

    from vision_parse_spark.benchmarks.scoring import rouge_n_pairs

    rng = random.Random(5)
    words = ["alpha", "beta", "gamma", "delta", "x", "y9", "Zed"]
    rows = []
    for i in range(40):
        cand = " ".join(rng.choices(words, k=rng.randrange(0, 12)))
        ref = " ".join(rng.choices(words, k=rng.randrange(0, 12)))
        rows.append((i, i + 1, cand, ref))
    rows.append((99, 100, "", ""))            # empty both
    rows.append((101, 102, "one", "two"))     # too short for bigrams
    pairs = spark.createDataFrame(
        rows, "id_a long, id_b long, tb string, ta string")
    got = sorted(((r["id_a"], r["id_b"]), r["rouge2"]) for r in
                 rouge_n_pairs(pairs, ["id_a", "id_b"], cand_col="tb",
                               ref_col="ta", n=2).collect())

    def bigrams(text):
        t = text.lower().split()
        return Counter(zip(t, t[1:]))

    want = []
    for a, b, cand, ref in rows:
        rg, cg = bigrams(ref), bigrams(cand)
        if rg:
            clip = sum(min(v, cg[g]) for g, v in rg.items())
            want.append(((a, b), round(clip / sum(rg.values()), 6)))
    assert got == sorted(want)
    assert all(k not in dict(got) for k in [(99, 100), (101, 102)])


# --- MinHash Arrow kernel vs the Catalyst reference ----------------

def test_minhash_udf_equals_catalyst(spark):
    from vision_parse_spark.operators.dedup import (
        make_minhash_udf, with_minhash)

    d = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
         .select("doc_id", "text").limit(60))
    cat = {
        r["doc_id"]: list(r["minhash"])
        for r in with_minhash(d, "text", 32, 3).select(
            "doc_id", "minhash").collect()
    }
    udf = make_minhash_udf(32, 3)
    arrow = {
        r["doc_id"]: list(r["mh"])
        for r in d.select("doc_id", udf(F.col("text")).alias("mh"))
                  .collect()
    }
    assert cat == arrow


# --- contracted-CC dup_clusters vs brute-force component minima ----

@pytest.mark.parametrize("n_parts", [1, 3, 8])
def test_dup_clusters_exact_on_random_graphs(spark, n_parts):
    """The union-find contraction + fused-min loop must produce the
    exact per-vertex component minimum for ANY partitioning of the
    edge list (partitioning may change round counts, never labels)."""
    from vision_parse_spark.operators.dedup import dup_clusters

    rng = random.Random(n_parts * 7 + 1)
    edges = set()
    # a few chains, a clique, random noise edges
    for s in (100, 200, 300):
        for i in range(9):
            edges.add((s + i, s + i + 1))
    for a in range(400, 405):
        for b in range(a + 1, 405):
            edges.add((a, b))
    for _ in range(40):
        a, b = rng.randrange(0, 90), rng.randrange(0, 90)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        sorted(edges), "id_a long, id_b long").repartition(n_parts)

    # brute force reference
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp: dict[int, list[int]] = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    want = {}
    for members in comp.values():
        m = min(members)
        for v in members:
            want[v] = m

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_clusters(pairs).collect()
    }
    assert got == want


# --- repetition kernel vs brute force ------------------------------

def test_repetition_bigram_census_matches_brute_force(spark):
    from vision_parse_spark.functions.text_stats import java_ws_tokens
    from vision_parse_spark.operators.repetition import repetition_stats

    texts = [
        (0, "spam spam spam spam ham"),
        (1, "a b a b a b"),
        (2, "one"),
        (3, ""),
        (4, None),
        (5, "Tabs\tand\nnewlines   collapse fine fine fine"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["top_bigram_frac"])
           for r in repetition_stats(df).collect()}
    from collections import Counter
    for i, t in texts:
        toks = java_ws_tokens(t)
        if len(toks) < 2:
            assert got[i] == (0, 0.0)
        else:
            c = Counter(zip(toks, toks[1:]))
            total = len(toks) - 1
            assert got[i][0] == total
            assert got[i][1] == round(max(c.values()) / total, 6)


# --- end-of-round wave: single-evaluation CC input ------------------

def test_dup_clusters_evaluates_pairs_input_once(spark):
    """The symmetric+self-loop star edges are built with ONE explode
    pass; the old 3-branch union evaluated the (possibly expensive,
    non-materialized) pairs subtree once per branch inside the
    distinct job.  Pin single evaluation with an instrumented input
    that records which (stage, partition) tasks ran it: a task retry
    re-records the same pair, a second evaluation adds a new stage."""
    from pyspark import TaskContext
    from pyspark.accumulators import AccumulatorParam

    from vision_parse_spark.operators.dedup import dup_clusters

    class SetParam(AccumulatorParam):
        def zero(self, value):
            return set()

        def addInPlace(self, a, b):
            return a | b

    seen = spark.sparkContext.accumulator(set(), SetParam())

    def record(batches):
        tc = TaskContext.get()
        seen.add({(tc.stageId(), tc.partitionId())})
        yield from batches

    # two components: {1,2,3} and {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    ).repartition(2).mapInPandas(record, "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # the instrumented kernel ran in exactly one stage, over its 2
    # partitions
    stages = {st for st, _ in seen.value}
    assert len(stages) == 1, f"pairs input evaluated in stages {stages}"
    assert sorted(p for _, p in seen.value) == [0, 1]


# --- end-of-round wave: GD loop partitioning invariance -------------

def test_quality_fit_invariant_to_loop_partitioning(spark):
    """The GD loop coalesces its cached read to ~one Arrow batch per
    task.  Partial-sum merge order is engine-arbitrary either way, so
    weights must agree to the documented drift tolerance between a
    many-sliver layout and the coalesced one."""
    import numpy as np
    from pyspark.sql import functions as F

    from vision_parse_spark.operators.classifier import (
        _doc_buckets, _fit_from_features)

    texts = [(i, " ".join(
        ["alpha beta gamma", "delta epsilon", "zeta eta theta"][i % 3]
        for _ in range(3 + i % 5))) for i in range(60)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    raw = _doc_buckets(df.filter("doc_id % 2 = 0"), "doc_id", "text", 64) \
        .withColumn("y", F.lit(0))
    tgt = _doc_buckets(df.filter("doc_id % 2 = 1"), "doc_id", "text", 64) \
        .withColumn("y", F.lit(1))
    w1, b1 = _fit_from_features(raw, tgt, 64, 4, 0.125)
    w2, b2 = _fit_from_features(raw.repartition(16), tgt.repartition(16),
                                64, 4, 0.125)
    np.testing.assert_allclose(w1, w2, rtol=1e-9, atol=1e-12)
    assert abs(b1 - b2) < 1e-9


# --- one parallelism policy: session.spread ------------------------

SF = "/root/testdata/sf0.001"


def _round_robins(df) -> set:
    """Distinct round-robin repartitions in ``df``'s analyzed plan, by
    canonical form: three reads of one spread input are one exchange
    (the optimizer may push each read's filters below it)."""
    found, todo = set(), [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Repartition" and node.shuffle():
            found.add(node.canonicalized().toString())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return found


@pytest.fixture
def materialized(spark, monkeypatch):
    """Round-robin exchanges of every frame an operator persists or
    checkpoints: its result plan alone hides what ran before them."""
    frame = type(spark.range(1))  # the session's DataFrame class
    seen = set()
    for name in ("persist", "localCheckpoint"):
        real = getattr(frame, name)

        def spy(self, *a, _real=real, **k):
            seen.update(_round_robins(self))
            return _real(self, *a, **k)

        monkeypatch.setattr(frame, name, spy)
    return seen


def _write_docs(spark, path, splits):
    (spark.read.parquet(f"{SF}/documents.parquet")
     .select("doc_id", "text").repartition(splits)
     .write.mode("overwrite").parquet(path))
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == splits
    return df


def test_scan_rebalance_size_guard(spark, monkeypatch):
    """spread repartitions an unsplittable scan only when its plan is
    big enough that serializing its per-row work beats the exchange;
    below the threshold the read stays at its natural partitioning.
    A spread frame is not spread again, and deciding that runs no
    Spark job (its partition count is read off the shuffling plan)."""
    from vision_parse_spark import session

    sc = spark.sparkContext
    d = spark.read.parquet(f"{SF}/documents.parquet")
    # tiny file, default 2 MiB threshold: returned untouched
    assert session.spread(d) is d
    # threshold forced to zero: spread to the default parallelism
    monkeypatch.setattr(session, "SPREAD_MIN_BYTES", 0)
    p = sc.defaultParallelism
    s = session.spread(d)
    sc.setJobGroup("spread-respread", "spread of a spread frame")
    try:
        assert session.spread(s) is s
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("spread-respread")
    assert s.rdd.getNumPartitions() == p
    assert session.spread(s.select("doc_id", "text")).rdd \
        .getNumPartitions() == p


def test_scan_rebalance_follows_rewritten_source(spark, monkeypatch,
                                                 tmp_path):
    """Nothing is cached between decisions: a source rewritten past
    the size threshold is spread on its next read."""
    from vision_parse_spark import session

    path = str(tmp_path / "documents.parquet")
    monkeypatch.setattr(session, "SPREAD_MIN_BYTES", 64 << 10)

    def spread_parts(n):
        (spark.range(n).selectExpr("id AS doc_id",
                                   "md5(cast(id AS string)) AS text")
         .coalesce(1).write.mode("overwrite").parquet(path))
        return session.spread(spark.read.parquet(path)).rdd \
            .getNumPartitions()

    assert spread_parts(10) == 1
    assert spread_parts(20000) == spark.sparkContext.defaultParallelism


def test_minhash_keeps_split_input_unshuffled(spark, monkeypatch,
                                              tmp_path):
    """An input above the size threshold that already has a split per
    two cores reaches the MinHash signature kernel without a
    round-robin exchange (the LSH used to repartition every input)."""
    from vision_parse_spark import session
    from vision_parse_spark.operators import dedup

    d = _write_docs(spark, str(tmp_path / "docs.parquet"),
                    spark.sparkContext.defaultParallelism)
    monkeypatch.setattr(session, "SPREAD_MIN_BYTES", 1 << 10)
    plans = []
    real = dedup._banded

    def spy(*a, **k):
        out = real(*a, **k)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(dedup, "_banded", spy)
    dedup.minhash_lsh_pairs(d).collect()
    assert "ArrowEvalPython" in plans[0]  # the signature kernel
    assert "RoundRobinPartitioning" not in plans[0]


def test_curate_spreads_one_split_input_once(spark, monkeypatch,
                                             tmp_path, materialized):
    """A one-split input above the threshold gets exactly one
    round-robin exchange over the whole of curate, not one per nested
    operator (repetition gate, LSH banding)."""
    from vision_parse_spark import session
    from vision_parse_spark.operators.curation import curate

    d = _write_docs(spark, str(tmp_path / "docs.parquet"), 1)
    monkeypatch.setattr(session, "SPREAD_MIN_BYTES", 1 << 10)
    out = curate(d)
    out.collect()
    assert len(materialized | _round_robins(out)) == 1


def test_curate_leaves_small_input_unshuffled(spark, materialized):
    """Below the size threshold no stage of curate adds a round-robin
    exchange."""
    from vision_parse_spark.operators.curation import curate

    out = curate(spark.read.parquet(f"{SF}/documents.parquet"))
    out.collect()
    assert not materialized | _round_robins(out)
