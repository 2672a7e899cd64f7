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
    """The exact-verify kernel's dot/norm arithmetic (float32
    products, strict left-to-right float64 accumulation) must equal
    the interpreted Catalyst ``aggregate(zip_with(a, b, x*y), 0.0D,
    acc+v)`` fold BIT FOR BIT — the embedding_near_dups pair set
    depends on the raw double crossing the threshold."""
    from vision_parse_spark.operators.similarity import _fold_dot

    rng = np.random.default_rng(17)
    dim = 23  # odd, non-power-of-two on purpose
    a = rng.standard_normal((64, dim)).astype(np.float32)
    b = (rng.standard_normal((64, dim)) * 100).astype(np.float32)
    rows = [(i, [float(x) for x in a[i]], [float(x) for x in b[i]])
            for i in range(len(a))]
    df = spark.createDataFrame(
        rows, "i int, a array<float>, b array<float>")
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
        assert struct.pack("<d", got[i]) == struct.pack("<d", want[i]), (
            f"row {i}: catalyst {got[i]!r} != kernel {want[i]!r}")


# --- rouge fast kernel vs the relational construction --------------

def test_rouge_fast_equals_relational(spark):
    from vision_parse_spark.benchmarks.scoring import (
        rouge_n_pairs, rouge_n_pairs_fast)

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
    slow = rouge_n_pairs(pairs, ["id_a", "id_b"], cand_col="tb",
                         ref_col="ta", n=2).collect()
    fast = rouge_n_pairs_fast(pairs, ["id_a", "id_b"], cand_col="tb",
                              ref_col="ta", n=2).collect()
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    assert sorted((key(r), r["rouge2"]) for r in slow) == \
        sorted((key(r), r["rouge2"]) for r in fast)


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


# --- end-of-round wave: size-guarded scan rebalance -----------------

def test_scan_rebalance_size_guard(spark, monkeypatch):
    """_tr repartitions an unsplittable scan only when the file is
    big enough that serializing its per-row work beats the exchange;
    below the threshold the read stays at its natural partitioning."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    em._SCAN_PARTS_CACHE.clear()
    # tiny file, default 2 MiB threshold: no repartition
    assert em._tr(spark, sf, "documents").rdd.getNumPartitions() == 1
    # force the threshold to zero: the guard passes and the read is
    # spread to the session's default parallelism
    em._SCAN_PARTS_CACHE.clear()
    monkeypatch.setattr(em, "_REBALANCE_MIN_BYTES", 0)
    p = spark.sparkContext.defaultParallelism
    assert em._tr(spark, sf, "documents").rdd.getNumPartitions() == p
    em._SCAN_PARTS_CACHE.clear()


def test_scan_rebalance_follows_rewritten_source(spark, monkeypatch,
                                                 tmp_path):
    """The partition probe and size caches behind _tr are keyed on the
    source's mtime: a source rewritten past the size threshold gets a
    fresh rebalance decision instead of the cached one."""
    import __spark_entry__ as em

    sf = str(tmp_path)
    monkeypatch.setattr(em, "_REBALANCE_MIN_BYTES", 64 << 10)

    def write(n):
        (spark.range(n).selectExpr("id AS doc_id",
                                   "md5(cast(id AS string)) AS text")
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{sf}/documents.parquet"))

    write(10)
    assert em._tr(spark, sf, "documents").rdd.getNumPartitions() == 1
    write(20000)
    assert em._src_bytes(sf, "documents") >= 64 << 10
    p = spark.sparkContext.defaultParallelism
    assert em._tr(spark, sf, "documents").rdd.getNumPartitions() == p
