"""Product quantization: codebook shapes, encode determinism,
ADC vs exact-distance agreement on separable data, validation."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _vecs(spark, n=40, dim=8, modes=4, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 5.0, (modes, dim))
    rows = [(i, (centers[i % modes]
                 + rng.normal(0, 0.05, dim)).tolist())
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_fit_shapes_and_validation(spark):
    from vision_parse_spark.operators.pq import pq_fit

    df = _vecs(spark)
    books = pq_fit(df, m=2, k=3, iters=1)
    assert len(books) == 2
    assert all(len(b) == 3 and len(b[0]) == 4 for b in books)
    with pytest.raises(ValueError, match="divisible"):
        pq_fit(df, m=3)
    with pytest.raises(ValueError, match="m must be"):
        pq_fit(df, m=0)
    with pytest.raises(ValueError, match="empty input"):
        pq_fit(df.limit(0), m=2)


def test_pq_encode_clusters_separable_modes(spark):
    from vision_parse_spark.operators.pq import pq_encode, pq_fit

    df = _vecs(spark, n=40, modes=4)
    books = pq_fit(df, m=2, k=4, iters=3)
    got = {r.vec_id: tuple(r.codes)
           for r in pq_encode(df, books).collect()}
    assert len(got) == 40
    # vectors from the same mode share the same code tuple
    for i in range(40):
        assert got[i] == got[i % 4], (i, got[i], got[i % 4])
    # well-separated modes get 4 distinct code tuples
    assert len({got[i] for i in range(4)}) == 4


def test_pq_encode_partition_invariance(spark):
    from vision_parse_spark.operators.pq import pq_encode, pq_fit

    df = _vecs(spark, n=30)
    books = pq_fit(df, m=2, k=3, iters=2)
    a = sorted((r.vec_id, tuple(r.codes))
               for r in pq_encode(df.coalesce(1), books).collect())
    b = sorted((r.vec_id, tuple(r.codes))
               for r in pq_encode(df.repartition(7), books).collect())
    assert a == b


def test_pq_adc_topk_matches_exact_on_separable_data(spark):
    from vision_parse_spark.operators.pq import pq_adc_topk, pq_fit

    df = _vecs(spark, n=40, modes=4)
    books = pq_fit(df, m=2, k=4, iters=3)
    q = df.filter(F.col("vec_id") < 2)
    out = pq_adc_topk(df, q, books, k=5).collect()
    assert len(out) == 10                      # 2 queries x top-5
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    rows = {r["vec_id"]: np.array(r["embedding"])
            for r in df.collect()}
    for qid, hits in by_q.items():
        assert [h.rank for h in sorted(hits, key=lambda h: h.rank)] \
            == [1, 2, 3, 4, 5]
        # ADC neighbors of a mode-member are same-mode vectors
        top = min(hits, key=lambda h: h.rank)
        exact = sorted(
            (float(((rows[qid] - v) ** 2).sum()), i)
            for i, v in rows.items() if i != qid)
        assert top.neighbor_id % 4 == qid % 4
        assert exact[0][1] % 4 == qid % 4
        assert qid not in {h.neighbor_id for h in hits}


def test_pq_adc_empty_queries_raise(spark):
    from vision_parse_spark.operators.pq import pq_adc_topk, pq_fit

    df = _vecs(spark)
    books = pq_fit(df, m=2, k=2, iters=1)
    with pytest.raises(ValueError, match="empty query"):
        pq_adc_topk(df, df.filter("vec_id < 0"), books)


def test_scalar_quantize_exact_round_trip_properties(spark):
    from vision_parse_spark.operators.pq import scalar_quantize

    df = spark.createDataFrame(
        [(0, [0.0, 5.0, -1.0]), (1, [10.0, 5.0, 1.0]),
         (2, [5.0, 5.0, 0.0])],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in scalar_quantize(df).collect()}
    # dim0 range [0,10]: 0 -> 0, 10 -> 255, 5 -> 128 (round .5 up)
    # dim1 constant: range 0 -> code 0, zero error
    # dim2 range [-1,1]: -1 -> 0, 1 -> 255, 0 -> 128
    assert got[0].codes_str == "0,0,0"
    assert got[1].codes_str == "255,0,255"
    assert got[2].codes_str == "128,0,128"
    # max reconstruction error bounded by half a quantization step
    for r in got.values():
        assert r.max_err <= round(10.0 / 255 / 2 + 1e-9, 6)
    assert got[1].max_err == 0.0              # exact endpoints


def test_scalar_quantize_partition_invariance(spark):
    from vision_parse_spark.operators.pq import scalar_quantize
    import pytest as _pt

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(map(tuple, scalar_quantize(df.coalesce(1)).collect()))
    b = sorted(map(tuple, scalar_quantize(df.repartition(7)).collect()))
    assert a == b
    with _pt.raises(ValueError, match="levels"):
        scalar_quantize(df, levels=1)


def test_ivf_adc_topk_prunes_and_agrees_with_exhaustive(spark):
    from vision_parse_spark.operators.pq import (
        ivf_adc_topk, pq_adc_topk, pq_fit)

    df = _vecs(spark, n=40, modes=4)
    books = pq_fit(df, m=2, k=4, iters=3)
    q = df.filter(F.col("vec_id") < 2)
    # with nprobe = n_centroids the search is exhaustive: results
    # must EQUAL the flat ADC scan (same codes, same LUT folds)
    full = sorted((r.query_id, r.neighbor_id, r.adc_dist, r.rank)
                  for r in ivf_adc_topk(df, q, books, n_centroids=4,
                                        nprobe=4, cell_iters=3,
                                        k=5).collect())
    flat = sorted((r.query_id, r.neighbor_id, r.adc_dist, r.rank)
                  for r in pq_adc_topk(df, q, books, k=5).collect())
    assert full == flat
    # nprobe=1 on well-separated modes: the probed cell is the
    # query's own mode, so every neighbor is same-mode
    pruned = ivf_adc_topk(df, q, books, n_centroids=4, nprobe=1,
                          cell_iters=3, k=5).collect()
    for r in pruned:
        assert r.neighbor_id % 4 == r.query_id % 4


def test_ivf_adc_validation(spark):
    from vision_parse_spark.operators.pq import ivf_adc_topk, pq_fit

    df = _vecs(spark)
    books = pq_fit(df, m=2, k=2, iters=1)
    with pytest.raises(ValueError, match="nprobe"):
        ivf_adc_topk(df, df.limit(1), books, n_centroids=4, nprobe=5)
    with pytest.raises(ValueError, match="empty query"):
        ivf_adc_topk(df, df.filter("vec_id < 0"), books)
