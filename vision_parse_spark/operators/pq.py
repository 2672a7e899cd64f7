"""Product quantization (Jégou et al. 2011, "Product Quantization
for Nearest Neighbor Search") — the memory-side ANN primitive the
similarity family was missing: embeddings compress to ``m`` small
codes (one k-means codebook per subspace), and asymmetric-distance
(ADC) search scans CODES instead of raw vectors.

Not present in the reference (no vector ops there); this is the
100 TB retrieval-index shape: a dim-64 float64 vector is 512 bytes,
its m=4 PQ code is 4 bytes — the candidate scan reads ~128x less and
the distance per candidate is ``m`` table lookups + ``m-1`` adds
instead of a ``dim``-wide fold.

Scale design:
* ``pq_fit`` trains all ``m`` codebooks with the one Lloyd trainer
  (:func:`~.clustering._lloyd`, the engine behind ``kmeans_fit``): one
  persisted base, one seed collect, ONE Arrow pass per iteration
  emitting every subspace's map-side-combined partials — the corpus
  never shuffles.
* ``pq_encode`` is ONE narrow Arrow pass (tiled argmin per subspace,
  scratch bounded at tile x k doubles).
* ADC search has one body: the queries are collected and turned into
  per-query lookup tables (|Q| x m x k doubles — control-plane
  sized), and one scorer sums the LUT entries of a
  ``(query_idx, id, codes)`` candidate relation and ranks by the
  family's standard (rounded-distance, neighbor-id) window.
  ``ivf_adc_topk`` feeds it the probed cells, ``pq_adc_topk`` every
  code (exhaustive IVF-ADC).

Determinism (the repo's oracle discipline): every distance that
DECIDES something (encode argmin, ADC ranking) is a strict
left-to-right fold — numpy ``cumsum`` in the kernels, ``list_reduce``
/ left-associated addition in the DuckDB replay — so given equal
codebooks both engines compute bit-identical doubles; argmin/rank
tie-breaks are (distance, lowest id).  Training centroids replay via
the kmeans oracle CTEs with the documented ~1e-12 ulp band (the
kmeans_assign precedent: distances between synthetic modes are O(1),
no observed flips at any SF).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..session import spread
from .clustering import _TILE, _assign_col, _lloyd, kmeans_fit

# ADC distances rank after rounding to this many decimals
_ROUND = 6


def pq_fit(df: DataFrame, m: int = 4, k: int = 8, iters: int = 2,
           id_col: str = "vec_id", vec_col: str = "embedding",
           ) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks of ``k`` centroids each
    (dim must divide evenly by ``m``).  Returns
    ``codebooks[m][k][dim/m]``.  Init = the ``k`` lowest-id vectors
    sliced per subspace (the kmeans_fit contract): all ``m`` codebooks
    train together in :func:`~.clustering._lloyd`, ``iters + 1``
    corpus scans in total.
    """
    if m < 1:
        raise ValueError(f"pq_fit: m must be >= 1, got {m}")
    base = spread(df).select(F.col(id_col),
                             F.col(vec_col).cast("array<double>").alias("_v")
                             ).persist()
    books = _lloyd(base, k, iters, m, "pq_fit")
    base.unpersist()
    return books


def _encode_udf(codebooks: list[list[list[float]]]):
    """Arrow kernel: per subspace, squared distance to each centroid
    as a strict left fold (cumsum) and argmin (first minimum =
    lowest code, matching the oracle's ORDER BY dist, cid)."""
    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = mats[0].shape[1]

    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        v = np.array([np.asarray(x, dtype=np.float64) for x in vecs])
        n = len(v)
        codes = np.empty((n, len(mats)), dtype=np.int32)
        for lo in range(0, n, _TILE):
            t = v[lo:lo + _TILE]
            for j, cmat in enumerate(mats):
                sl = t[:, j * sub:(j + 1) * sub]
                sq = (sl[:, None, :] - cmat[None, :, :]) ** 2
                d2 = np.cumsum(sq, axis=2)[:, :, -1]   # strict fold
                codes[lo:lo + _TILE, j] = np.argmin(d2, axis=1)
        return pd.Series(list(codes), index=vecs.index)

    return encode


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id", vec_col: str = "embedding",
              ) -> DataFrame:
    """``(id_col, codes)`` — one int code per subspace.  One narrow
    Arrow pass, zero shuffle."""
    enc = _encode_udf(codebooks)
    return spread(df).select(F.col(id_col),
                             enc(F.col(vec_col).cast("array<double>"))
                             .alias("codes"))


def _query_luts(queries: DataFrame, codebooks: list[list[list[float]]],
                id_col: str, vec_col: str, who: str):
    """Collect the (eval-sized) query set — the brute_force_topk
    broadcast contract — and build ``luts[q][j][c]``: the strict
    left-fold squared distance of query slice ``j`` to centroid ``c``
    (cumsum — bit-identical to the oracle's list_reduce fold).
    Returns ``(query ids, query matrix, luts)``."""
    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = mats[0].shape[1]
    qrows = (queries.select(F.col(id_col),
                            F.col(vec_col).cast("array<double>"))
             .collect())
    if not qrows:
        raise ValueError(f"{who}: empty query set")
    qv = np.array([r[1] for r in qrows], dtype=np.float64)
    luts = np.empty((len(qrows), len(mats), mats[0].shape[0]))
    for j, cmat in enumerate(mats):
        sq = (qv[:, None, j * sub:(j + 1) * sub] - cmat[None, :, :]) ** 2
        luts[:, j] = np.cumsum(sq, axis=2)[:, :, -1]
    return [r[0] for r in qrows], qv, luts


def _adc_rank(cand: DataFrame, qids: list, luts: np.ndarray, k: int,
              id_col: str) -> DataFrame:
    """The one ADC scorer: each ``(query_idx, id_col, codes)``
    candidate costs ``m`` LUT lookups summed as a strict left fold
    over subspaces, ``((l0+l1)+l2)+...``; the distance is rounded to
    ``_ROUND`` decimals and ranked per query by (adc_dist,
    neighbor_id), the similarity-family determinism rule.

    Output: ``(query_id, neighbor_id, adc_dist, rank)``."""
    m = luts.shape[1]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cd = np.array(list(pdf["codes"]), dtype=np.int64)
            qi = pdf["query_idx"].to_numpy()
            acc = luts[qi, 0, cd[:, 0]]
            for j in range(1, m):
                acc = acc + luts[qi, j, cd[:, j]]
            yield pd.DataFrame({
                "query_idx": qi,
                "neighbor_id": pdf[id_col].to_numpy(),
                "adc_dist": acc,
            })

    qmap = F.array(*[F.lit(q) for q in qids])
    sims = (cand.mapInPandas(
                score, "query_idx int, neighbor_id long, adc_dist double")
            .select(F.element_at(qmap, F.col("query_idx") + 1)
                    .alias("query_id"),
                    "neighbor_id",
                    F.round("adc_dist", _ROUND).alias("adc_dist"))
            .filter(F.col("neighbor_id") != F.col("query_id")))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id"))
    return (sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def pq_adc_topk(df: DataFrame, queries: DataFrame,
                codebooks: list[list[list[float]]], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                ) -> DataFrame:
    """Asymmetric-distance top-k over every code: exhaustive IVF-ADC.
    Each query's ``m x k_codes`` lookup table is built on the driver
    (:func:`_query_luts`); the corpus side is its PQ codes only,
    cross-joined with the broadcast query indices and scored by
    :func:`_adc_rank` with ``m`` lookups + ``m-1`` adds per candidate.

    Output: ``(query_id, neighbor_id, adc_dist, rank)``.
    """
    qids, _, luts = _query_luts(queries, codebooks, id_col, vec_col,
                                "pq_adc_topk")
    codes = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col)
    qidx = F.broadcast(df.sparkSession.range(len(qids)).select(
        F.col("id").cast("int").alias("query_idx")))
    return _adc_rank(codes.crossJoin(qidx), qids, luts, k, id_col)


def scalar_quantize(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    levels: int = 256) -> DataFrame:
    """Per-dimension scalar quantization (the int8 embedding
    compression every vector store ships): each dimension maps to
    ``round((x - min_d) / range_d * (levels-1))`` with corpus-wide
    per-dim min/max, reporting the per-vector max reconstruction
    error.

    Unlike the k-means paths this is FULLY exact cross-engine: min /
    max aggregates are order-invariant, every downstream op is
    element-wise (no float fold anywhere), and the max over
    dimensions is again order-invariant — the oracle hash matches
    bit-for-bit with no ulp caveat.

    Scale shape: ONE bounded-key shuffle (explode to (dim, x), agg on
    the dim key with map-side combine, <= dim rows collected to the
    driver), then a narrow codegen'd Project with the stats as plan
    literals.  Output: ``(id_col, codes_str, max_err)``.
    """
    if levels < 2:
        raise ValueError(f"scalar_quantize: levels must be >= 2,"
                         f" got {levels}")
    v = F.col(vec_col).cast("array<double>")
    stats = (df.select(F.posexplode(v).alias("i", "x"))
               .groupBy("i")
               .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
               .collect())
    if not stats:
        raise ValueError("scalar_quantize: empty input")
    dim = len(stats)
    lo = [0.0] * dim
    rng = [0.0] * dim
    for r in stats:
        lo[r["i"]] = r["lo"]
        rng[r["i"]] = r["hi"] - r["lo"]
    # literals as string-casts: Spark parses bare decimal literals
    # as DECIMAL, and cast('<repr>' as double) round-trips the exact
    # IEEE double (shortest-repr guarantee) on both engines
    def _dlit(x: float) -> str:
        return f"cast('{x!r}' as double)"

    mins = "array(" + ",".join(_dlit(x) for x in lo) + ")"
    rngs = "array(" + ",".join(_dlit(x) for x in rng) + ")"
    top = _dlit(float(levels - 1))
    code = (f"CASE WHEN {rngs}[i] = {_dlit(0.0)} THEN 0 ELSE "
            f"cast(round(((_v[i] - {mins}[i]) / {rngs}[i])"
            f" * {top}) as int) END")
    dq = f"({mins}[i] + (cast({code} as double) * {rngs}[i]) / {top})"
    return (df.select(F.col(id_col), v.alias("_v"))
            .select(
                id_col,
                F.expr(f"array_join(transform(sequence(0, {dim - 1}),"
                       f" i -> cast({code} as string)), ',')")
                .alias("codes_str"),
                F.round(F.expr(
                    f"array_max(transform(sequence(0, {dim - 1}),"
                    f" i -> abs(_v[i] - {dq})))"), 6)
                .alias("max_err")))


def ivf_adc_topk(df: DataFrame, queries: DataFrame,
                 codebooks: list[list[list[float]]],
                 n_centroids: int = 8, nprobe: int = 3,
                 cell_iters: int = 2, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 ) -> DataFrame:
    """IVF-ADC search — the FAISS IVFPQ shape (non-residual variant,
    documented simplification: codes quantize the raw vectors, not
    the cell residuals): the corpus is partitioned into ``n_centroids``
    k-means cells, each query probes only its ``nprobe`` nearest
    cells, and candidates inside probed cells score by PQ
    asymmetric distance (codes + lookup tables, never raw vectors).

    This is the scale path over :func:`pq_adc_topk`'s exhaustive
    code scan: the candidate stream shrinks by ~``nprobe /
    n_centroids`` AND each candidate costs ``m`` lookups — the
    100 TB retrieval double-cut (prune, then cheap distance).

    Determinism: cell assignment reuses the kmeans_assign contract
    (tiled argmin, lowest-cell tie-break, the documented ~1e-12
    oracle band); probe ranking and ADC distances are strict left
    folds; final ranking (rounded dist, neighbor id).

    Output: ``(query_id, neighbor_id, adc_dist, rank)``.
    """
    if nprobe < 1 or nprobe > n_centroids:
        raise ValueError(f"ivf_adc_topk: need 1 <= nprobe <= "
                         f"n_centroids, got {nprobe}/{n_centroids}")
    qids, qv, luts = _query_luts(queries, codebooks, id_col, vec_col,
                                 "ivf_adc_topk")

    # coarse cells: ONE Lloyd training, assignments from the same
    # cached relation (the kmeans_assign contract kernel), and the
    # same centroids rank each query's nprobe probes (strict fold)
    cents, data = kmeans_fit(df, k=n_centroids, iters=cell_iters,
                             id_col=id_col, vec_col=vec_col)
    cells = (data.select(F.col(id_col), _assign_col("_v", cents))
                 .localCheckpoint(eager=True))
    data.unpersist()

    cmat = np.asarray(cents, dtype=np.float64)
    d2 = np.cumsum((qv[:, None, :] - cmat[None, :, :]) ** 2, axis=2)[:, :, -1]
    probes = [(qi, int(c)) for qi, row in enumerate(d2)   # dist, then cid
              for c in np.lexsort((np.arange(len(row)), row))[:nprobe]]
    probe_df = F.broadcast(
        df.sparkSession.createDataFrame(
            probes, "query_idx int, cluster int"))
    codes = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col)
    cand = (codes.join(cells.withColumnRenamed(id_col, "_cid"),
                       codes[id_col] == F.col("_cid"))
                 .join(probe_df, "cluster")
                 .select("query_idx", F.col(id_col), "codes"))
    return _adc_rank(cand, qids, luts, k, id_col)
