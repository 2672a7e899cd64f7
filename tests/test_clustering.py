"""KMeans + SemDeDup (operators/clustering.py).  Hand-built vector
sets pin Lloyd's semantics (init order, tie-break, empty-cell
carry-over, convergence on separable data) and the greedy survivor
rule; the entry contract + DuckDB oracle replay the full chain on
the real embeddings table."""

import math

import pytest
from pyspark.sql import functions as F

from vision_parse_spark.operators.clustering import (
    kmeans_assign,
    kmeans_fit,
    semdedup,
)


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")


def test_separable_clusters_recovered(spark):
    # two tight blobs far apart: every point lands with its blob's
    # seed regardless of which blob seeded which cluster id
    rows = [(0, [0.0, 0.1]), (1, [10.0, 9.9]), (2, [0.1, 0.0]),
            (3, [9.9, 10.0]), (4, [0.05, 0.05]), (5, [10.1, 10.0])]
    out = {r.vec_id: r.cluster for r in
           kmeans_assign(_vecs(spark, rows), k=2, iters=2).collect()}
    assert out[0] == out[2] == out[4] == 0   # seed 0 = vec 0's blob
    assert out[1] == out[3] == out[5] == 1   # seed 1 = vec 1's blob


def test_init_is_lowest_ids_in_order(spark):
    rows = [(7, [5.0]), (3, [1.0]), (9, [9.0]), (1, [0.0])]
    cents, _ = kmeans_fit(_vecs(spark, rows), k=2, iters=0)
    # iters=0: centroids are exactly the two lowest-id vectors
    assert cents == [[0.0], [1.0]]


def test_tie_breaks_to_lower_cluster(spark):
    # point equidistant from both centroids -> cluster 0
    rows = [(0, [0.0]), (1, [2.0]), (2, [1.0])]
    out = {r.vec_id: r.cluster for r in
           kmeans_assign(_vecs(spark, rows), k=2, iters=0).collect()}
    assert out[2] == 0


def test_empty_cluster_keeps_centroid(spark):
    # seed 1 ([9]) captures nothing after one step (all points
    # nearer [0]-side mean): its centroid must survive unchanged
    rows = [(0, [0.0]), (1, [9.0]), (2, [0.1]), (3, [0.2])]
    cents, _ = kmeans_fit(_vecs(spark, rows), k=2, iters=3)
    assert cents[1] == [9.0]
    # input column is float32: 0.1f upcasts to 0.10000000149...
    assert math.isclose(cents[0][0], 0.1, abs_tol=1e-6)


def test_centroid_is_member_mean(spark):
    rows = [(0, [0.0, 0.0]), (1, [4.0, 0.0]), (2, [2.0, 6.0])]
    cents, _ = kmeans_fit(_vecs(spark, rows), k=1, iters=1)
    assert cents[0] == [2.0, 2.0]


def test_validation_errors(spark):
    with pytest.raises(ValueError):
        kmeans_fit(_vecs(spark, [(0, [1.0])]), k=0)
    with pytest.raises(ValueError):
        kmeans_fit(_vecs(spark, [(0, [1.0])]), k=2)   # k > n rows
    with pytest.raises(ValueError, match="empty input"):
        kmeans_fit(_vecs(spark, [(0, [1.0])]).limit(0), k=1)


def test_raising_fits_release_their_cache(spark):
    """A fit that raises after persisting its input must unpersist it:
    the cache manager is left as the fit found it."""
    from vision_parse_spark.operators.pq import pq_fit

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    one = _vecs(spark, [(0, [1.0, 2.0])])
    for fit in (lambda: kmeans_fit(one.limit(0), k=2),
                lambda: kmeans_fit(one, k=2),
                lambda: pq_fit(one.limit(0), m=2, k=1),
                lambda: pq_fit(one, m=2, k=2)):
        with pytest.raises(ValueError):
            fit()
        assert cm.isEmpty()


def test_fits_run_no_probe_job(spark):
    """Both trainers read ``dim`` from their seed collect: a fit is
    one seed job plus at most two jobs per Lloyd step."""
    from vision_parse_spark.operators.pq import pq_fit

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    sc = spark.sparkContext

    def jobs(group, fit):
        sc.setJobGroup(group, group)
        try:
            fit()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for iters in (0, 1, 2):
        def km():
            kmeans_fit(emb, k=8, iters=iters)[1].unpersist()
        n = jobs(f"kmeans-fit-{iters}", km)
        assert 0 < n <= 1 + 2 * iters, (iters, n)
    n = jobs("pq-fit", lambda: pq_fit(emb, m=4, k=8, iters=2))
    assert 0 < n <= 5, n


def test_semdedup_greedy_survivors(spark):
    # one blob of 3 near-identical vectors + 1 distant: lowest id of
    # the blob survives, distant point survives
    rows = [(0, [1.0, 0.0]), (1, [0.999, 0.001]), (2, [1.0, 0.001]),
            (3, [-1.0, 0.0])]
    ids = sorted(r.vec_id for r in
                 semdedup(_vecs(spark, rows), k=1, iters=1,
                          threshold=0.99).collect())
    assert ids == [0, 3]


def test_semdedup_chain_collapses_to_minimum(spark):
    # a~b and b~c but NOT a~c: the drop rule is "any lower-id
    # witness, surviving or not", so b AND c both go — chains
    # collapse to the minimum (documented; dup_clusters +
    # representatives is the keep-chain-ends alternative)
    import math
    def at(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]
    rows = [(0, at(0)), (1, at(15)), (2, at(30))]
    ids = sorted(r.vec_id for r in
                 semdedup(_vecs(spark, rows), k=1, iters=0,
                          threshold=0.95).collect())
    assert ids == [0]


def test_semdedup_cross_cluster_dups_both_survive(spark):
    # near-identical pair split across far-apart cluster seeds can
    # both survive: SemDeDup only prunes within a cell.  Construct
    # two orthogonal-ish groups so k=2 separates them.
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]),
            (2, [1.0, 0.01]), (3, [0.01, 1.0])]
    ids = sorted(r.vec_id for r in
                 semdedup(_vecs(spark, rows), k=2, iters=1,
                          threshold=0.99).collect())
    assert ids == [0, 1]


def test_semdedup_threshold_one_keeps_all_distinct_directions(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])]
    ids = sorted(r.vec_id for r in
                 semdedup(_vecs(spark, rows), k=1, iters=0,
                          threshold=1.1).collect())
    assert ids == [0, 1, 2]


def test_real_table_shapes(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    asg = kmeans_assign(df, k=8, iters=2)
    assert asg.count() == df.count()
    cl = asg.agg(F.min("cluster"), F.max("cluster"),
                 F.countDistinct("cluster")).first()
    assert cl[0] == 0 and cl[1] <= 7 and cl[2] >= 2
    surv = semdedup(df, k=8, iters=2, threshold=0.3)
    assert 0 < surv.count() < df.count()


def _semdedup_fold_survivors(df, tau):
    """Reference survivors: the Catalyst cosine fold over the
    ``array<double>`` vectors (``dot / (norm_a * norm_b)``), as a
    within-cluster self-join on the same KMeans assignment."""
    asg = kmeans_assign(df, k=8, iters=2)
    v = (df.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v"))
         .join(asg, "vec_id"))

    def fold(x, y):
        return F.aggregate(F.zip_with(x, y, lambda p, q: p * q),
                           F.lit(0.0), lambda acc, p: acc + p)

    a = v.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"),
                 "cluster")
    b = v.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"),
                 "cluster")
    cos = fold("va", "vb") / (F.sqrt(fold("va", "va"))
                              * F.sqrt(fold("vb", "vb")))
    dropped = {r.ib for r in a.join(b, "cluster")
               .filter((F.col("ia") < F.col("ib")) & (cos >= tau))
               .select("ib").collect()}
    return {r.vec_id for r in df.select("vec_id").collect()} - dropped


def test_semdedup_arrow_matches_portable(spark):
    # the Arrow verify kernel (tiled matmul candidates, exact fold
    # cosine) must pick the survivor set of the cross-engine Catalyst
    # fold self-join on real data — bit-exact, so equal at any tau
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for tau in (0.3, 0.7):
        got = {r.vec_id for r in
               semdedup(df, k=8, iters=2, threshold=tau).collect()}
        want = _semdedup_fold_survivors(df, tau)
        assert got == want, f"tau={tau}: kernel^fold={got ^ want}"


def test_fuzz_kmeans_matches_numpy_model(spark):
    """Seeded random vector sets: the Spark assignment must equal a
    direct numpy Lloyd re-implementation (same init, same float64
    math, same first-min tie-break, empty-cell carry)."""
    import numpy as np

    rng = np.random.default_rng(77)
    for trial, (k, iters) in enumerate([(4, 3), (2, 1), (6, 2)]):
        X = rng.normal(size=(60, 8)).astype(np.float32)
        rows = [(i, list(map(float, X[i]))) for i in range(60)]
        got = {r.vec_id: r.cluster for r in
               kmeans_assign(_vecs(spark, rows), k=k,
                             iters=iters).collect()}

        M = X.astype(np.float64)
        cents = M[:k].copy()
        for _ in range(iters):
            d2 = ((M[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            asg = d2.argmin(axis=1)
            for c in range(k):
                if (asg == c).any():
                    cents[c] = M[asg == c].sum(axis=0) / (asg == c).sum()
        d2 = ((M[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        want = dict(enumerate(d2.argmin(axis=1)))
        assert got == want, f"trial {trial}"


def test_fuzz_semdedup_witness_invariant(spark):
    """For every dropped id there is a lower-id same-cluster witness
    with cosine >= threshold; for every survivor there is none."""
    import numpy as np

    rng = np.random.default_rng(99)
    base = rng.normal(size=(10, 6))
    # plant near-dups: each vector is a noisy copy of one of 10 bases
    X = np.array([base[i % 10] + rng.normal(scale=0.02, size=6)
                  for i in range(50)])
    rows = [(i, list(map(float, X[i]))) for i in range(50)]
    k, iters, tau = 3, 2, 0.98
    surv = {r.vec_id for r in
            semdedup(_vecs(spark, rows), k=k, iters=iters,
                     threshold=tau).collect()}
    asg = {r.vec_id: r.cluster for r in
           kmeans_assign(_vecs(spark, rows), k=k, iters=iters).collect()}

    Xd = np.array([np.asarray(v, dtype=np.float64) for _, v in rows])
    nm = np.linalg.norm(Xd, axis=1)
    def witness(j):
        return any(asg[i] == asg[j]
                   and Xd[i] @ Xd[j] / (nm[i] * nm[j]) >= tau
                   for i in range(j))
    for j in range(50):
        assert (j not in surv) == witness(j), f"id {j}"
    assert 0 in surv and len(surv) < 50
