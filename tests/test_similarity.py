"""Similarity-search operator tests: exact brute-force cosine top-k
and LSH-bucketed ANN over array<float> embedding columns."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vision_parse_spark.operators.similarity import (
    ann_topk_lsh,
    brute_force_topk,
    embedding_near_dups,
    with_lsh_bucket,
)

DIM = 8


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((20, DIM))
    base[1] = base[0] + 0.01 * rng.standard_normal(DIM)  # near dup of 0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_matches_numpy(spark, vectors):
    pdf = vectors.toPandas().sort_values("vec_id")
    m = np.stack(pdf.embedding.map(np.array))
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    np.fill_diagonal(sims, -np.inf)

    out = brute_force_topk(vectors, vectors.filter(F.col("vec_id") < 3), k=4)
    got = out.orderBy("query_id", "rank").collect()
    for q in range(3):
        expect = np.argsort(-np.round(sims[q], 4), kind="stable")[:4]
        got_q = [r.neighbor_id for r in got if r.query_id == q]
        assert got_q == list(expect)


def test_topk_excludes_self(spark, vectors):
    out = brute_force_topk(vectors, vectors, k=3).collect()
    assert all(r.neighbor_id != r.query_id for r in out)


def test_near_dup_is_rank_one(spark, vectors):
    out = brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=1)
    r = out.first()
    assert r.neighbor_id == 1 and r.cosine > 0.99


def test_lsh_bucket_deterministic_and_similar_collide(spark, vectors):
    b = with_lsh_bucket(vectors, DIM, n_planes=8)
    rows = {r.vec_id: r.lsh_bucket for r in b.collect()}
    rows2 = {r.vec_id: r.lsh_bucket
             for r in with_lsh_bucket(vectors, DIM, n_planes=8).collect()}
    assert rows == rows2
    assert rows[0] == rows[1]  # near-identical vectors share all signs


def test_ann_finds_planted_near_dup(spark, vectors):
    out = ann_topk_lsh(vectors, vectors.filter(F.col("vec_id") == 0),
                       dim=DIM, k=3, n_planes=6)
    rows = out.collect()
    assert rows and rows[0].neighbor_id == 1  # collides + ranks first


def test_embedding_near_dups_threshold(spark, vectors):
    out = embedding_near_dups(vectors, dim=DIM, threshold=0.95, n_planes=6)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == {(0, 1)}


def test_embedding_near_dups_builds_without_warning(spark, vectors):
    """The grouped-map kernel's type hints name its eval type, so
    building the plan raises no PySpark ``UserWarning``."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        embedding_near_dups(vectors, dim=DIM, threshold=0.95, n_planes=6)


def test_ivf_topk_finds_planted_near_dup(spark, vectors):
    from vision_parse_spark.operators.clustering import kmeans_fit
    from vision_parse_spark.operators.similarity import ivf_topk

    cents, data = kmeans_fit(vectors, k=4)
    data.unpersist()
    cents = np.asarray(cents)
    assert cents.shape == (4, DIM)
    out = ivf_topk(vectors, vectors.filter(F.col("vec_id") == 0), cents,
                   k=3, nprobe=2)
    rows = out.orderBy("rank").collect()
    assert rows and rows[0].neighbor_id == 1 and rows[0].cosine > 0.99


def test_ivf_recall_vs_brute_force(spark, vectors):
    from vision_parse_spark.operators.clustering import kmeans_fit
    from vision_parse_spark.operators.similarity import ivf_topk

    cents, data = kmeans_fit(vectors, k=4)
    data.unpersist()
    cents = np.asarray(cents)
    q = vectors.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(vectors, q, k=3).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(vectors, q, cents, k=3, nprobe=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # nprobe=3 of 4 cells on random vectors


def _seed_centroids(vectors, n):
    """Data-seeded quantizer: the float32 embeddings of vec_id < n,
    in vec_id order (cell c = vec_id c)."""
    rows = (vectors.filter(F.col("vec_id") < n).orderBy("vec_id")
            .select("embedding").collect())
    return np.array([r.embedding for r in rows], dtype=np.float32)


def test_ivf_data_seeded_full_probe_equals_exact_topk(spark, vectors):
    """Data-seeded quantizer (the ann_ivf contract shape): with
    nprobe == n_centroids every cell is probed, so the result must
    be the exact top-k, ranks and cosines included."""
    from vision_parse_spark.operators.similarity import ivf_topk

    q = vectors.filter(F.col("vec_id") < 4)
    rows = ivf_topk(vectors, q, _seed_centroids(vectors, 4), k=3,
                    nprobe=4).collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3}
    exact = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
             for r in brute_force_topk(vectors, q, k=3).collect()}
    assert {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in rows} == exact


def test_ivf_cell_assignment_ties_go_to_lowest_cell(spark):
    """A row equally close to several centroids lands in the lowest
    cell, as the oracle's ``ORDER BY cosine DESC, cell ASC`` does;
    the probe order follows the same rule."""
    from vision_parse_spark.operators.similarity import _cell_assign_udf

    cents = np.array([[0, 1], [1, 0], [1, 0], [0, 1]], dtype=np.float32)
    df = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [0.0, 2.0]), (2, [3.0, 0.0])],
        "vec_id long, embedding array<float>")
    got = {r.vec_id: list(r.cells) for r in df.select(
        "vec_id", _cell_assign_udf(cents, 4)("embedding").alias("cells")
    ).collect()}
    assert got == {0: [0, 1, 2, 3], 1: [0, 3, 1, 2], 2: [1, 2, 0, 3]}


def test_degenerate_bucket_matmul_is_memory_bounded():
    """Round-4 verdict item 3: a degenerate bucket (10k all-zero
    vectors, which all hash to the same hyperplane bucket) must not
    allocate an n x n similarity matrix (~800 MB) or an all-pairs
    index inside the applyInPandas kernel; the tiled verify must stay
    under ~150 MB of numpy scratch, for a whole bucket and for an
    off-diagonal (lo, hi) triangle tile.  Runs the kernel directly
    (plain pandas) so tracemalloc sees the numpy buffers."""
    import tracemalloc

    import pandas as pd

    from vision_parse_spark.operators.similarity import (
        _bucket_pairs_exact_pdf,
    )

    n, dim = 10_000, 16
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [np.zeros(dim, dtype=np.float32)] * n,
        "_blk": np.arange(n) % 2,
    })
    for tile in ({}, {"blk_col": "_blk", "lo": 0, "hi": 1}):
        tracemalloc.start()
        out = _bucket_pairs_exact_pdf(pdf, "vec_id", "embedding",
                                      threshold=0.95, **tile)
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        assert len(out) == 0      # zero vectors pair with nothing
        assert peak < 150 * 1024 * 1024, f"{tile}: peak {peak/1e6:.0f} MB"


def test_tiled_bucket_pairs_match_full_matmul(monkeypatch):
    """Tiling and the candidate filter must not change the pair set
    or any cosine double: compare against an untiled all-pairs
    ``_fold_dot`` reference on a small random bucket, with the tile
    forced tiny so pairs straddle tile boundaries — for the whole
    bucket and for every (lo, hi) triangle tile of it."""
    import pandas as pd

    from vision_parse_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    n, dim = 700, 8
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    blk = rng.integers(0, 3, n)
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                        "embedding": list(vecs), "_blk": blk})
    norms = np.sqrt(sim._fold_dot(vecs, vecs))
    iu, ju = np.triu_indices(n, k=1)
    cos = sim._fold_dot(vecs[iu], vecs[ju]) / (norms[iu] * norms[ju])
    keep = cos >= 0.5
    want = dict(zip(zip(iu[keep].tolist(), ju[keep].tolist()),
                    cos[keep].tolist()))
    assert len(want) > 0

    def pairs(out):
        return dict(zip(zip(out["id_a"].tolist(), out["id_b"].tolist()),
                        out["_cos"].tolist()))

    monkeypatch.setattr(sim, "_EXACT_PAIR_TILE", 1)  # one row per tile
    got = pairs(sim._bucket_pairs_exact_pdf(pdf, "vec_id", "embedding",
                                            threshold=0.5))
    assert got == want                 # float == float: bit-identical
    tiles = {}
    for lo in range(3):
        for hi in range(lo, 3):
            sub = pdf[np.isin(blk, [lo, hi])]
            tiles.update(pairs(sim._bucket_pairs_exact_pdf(
                sub, "vec_id", "embedding", threshold=0.5,
                blk_col="_blk", lo=lo, hi=hi)))
    assert tiles == want
