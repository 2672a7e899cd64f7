"""Distributed KMeans over embedding columns (Lloyd's algorithm).

Not present in the reference (it has no vector ops); this is the
clustering primitive a training-data pipeline needs for corpus
bucketing, SemDeDup-style semantic dedup (Abbas et al. 2023) and
IVF-like index builds.

Scale design (100 TB): the classic MLlib shape —
* Centroids are control-plane state: ``k`` rows collected to the
  driver per iteration and re-broadcast as plan literals.  The data
  never shuffles by cluster for the *update* either: the per-cluster
  per-dimension sums are a map-side-combined hash aggregate whose
  exchange carries at most ``k`` rows per map partition.
* Assignment is an Arrow-batched kernel: a tiled squared-distance
  argmin against the broadcast ``k x d`` centroid matrix (numpy
  argmin = first minimum = lowest cluster id on ties, matching the
  oracle's ``ORDER BY dist, cid``).  The pure-Catalyst alternative
  (per-centroid ``zip_with`` literals) was measured 5x slower even
  at k=8: each Lloyd iteration embeds fresh centroid literals, so
  Catalyst recompiles a huge codegen'd expression per iteration and
  the compile dominates the scan.  Tiling bounds the scratch at
  ``tile x k`` doubles regardless of batch size or ``k``.
* The input is persisted once and re-scanned ``iters + 1`` times
  (the seed collect, then one narrow pass per step), exactly the
  Lloyd's access pattern.
* One trainer, :func:`_lloyd`, serves both k-means (one subspace)
  and product quantization (``pq.pq_fit``, ``m`` subspaces trained
  in the same pass); its assignment and the partial sums share one
  tiled argmin, :func:`_argmin_rows`.

Determinism: init picks the ``k`` lowest-id vectors (rank order =
cluster id), all arithmetic is float64, and every argmin tie-breaks
on the lower cluster id, so the assignment replays exactly in the
DuckDB oracle up to ~1e-12 distance rounding (distances between
synthetic cluster modes are O(1); no observed flips at any SF).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import IntegerType

from .similarity import _bucket_pairs_exact_pdf

# rows per distance tile in the Arrow kernels (here and in pq.py):
# peak scratch is TILE x k doubles (plus the TILE x dim batch), so
# memory stays bounded for any k
_TILE = 4096


def _argmin_rows(m: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """Tiled squared-Euclidean argmin of each row of ``m`` against
    ``cmat``: first minimum (numpy argmin) = lowest cluster id, the
    oracle's ``ORDER BY dist, cid`` replay."""
    out = np.empty(len(m), dtype=np.int64)
    for lo in range(0, len(m), _TILE):
        tile = m[lo:lo + _TILE]                             # t x d
        d2 = ((tile[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        out[lo:lo + _TILE] = np.argmin(d2, axis=1)
    return out


def _assign_udf(centroids: list[list[float]]):
    """Arrow-batched Lloyd assignment against the broadcast centroid
    matrix (:func:`_argmin_rows`)."""
    cmat = np.asarray(centroids, dtype=np.float64)          # k x d

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(_argmin_rows(m, cmat).astype(np.int32),
                         index=vecs.index)

    return assign


def _assign_col(vec_col: str, centroids: list[list[float]]) -> Column:
    return _assign_udf(centroids)(F.col(vec_col)).alias("cluster")


def _lloyd(base: DataFrame, k: int, iters: int, m: int,
           who: str) -> list[list[list[float]]]:
    """The one Lloyd trainer: ``iters`` update steps over the
    persisted ``(id, _v)`` relation ``base``, one ``k``-centroid
    codebook for each of the ``m`` equal column slices of ``_v``.
    Returns ``books[m][k][dim/m]``; ``m = 1`` is plain k-means.

    Init: the ``k`` lowest-id vectors, in id order (cluster ``c``
    starts at the rank-``c`` vector, sliced per subspace); ``dim`` is
    read from those seed rows.  A cluster that captures no points
    keeps its previous centroid.  Every raise releases ``base``.

    Each step is ONE fused narrow pass over all ``m`` subspaces:
    assign + per-batch partial centroid sums inside one Arrow kernel,
    emitting <= m * k * (dim/m + 1) rows per batch (dim index -1
    carries the member count).  The combine is a hash agg over those
    partials — a bounded-key exchange, never the data.  (A groupBy
    with ``dim`` separate F.sum columns was 3x slower: Catalyst
    compiles a fresh wide codegen'd aggregate per iteration and the
    compile dominates the scan.)  Jobs: one seed collect plus two per
    step.
    """
    def fail(msg: str):
        base.unpersist()
        raise ValueError(f"{who}: {msg}")

    if k < 1 or iters < 0:
        fail(f"need k >= 1, iters >= 0; got k={k} iters={iters}")
    seed_rows = base.orderBy(base.columns[0]).limit(k).collect()
    if not seed_rows:
        fail("empty input")
    dim = len(seed_rows[0]["_v"])
    if dim % m != 0:
        fail(f"dim {dim} not divisible by m={m}")
    if len(seed_rows) < k:
        fail(f"k={k} but only {len(seed_rows)} rows")
    sub = dim // m
    books = [[list(r["_v"])[j * sub:(j + 1) * sub] for r in seed_rows]
             for j in range(m)]
    for _ in range(iters):
        agg = (base.mapInPandas(_partial_sums_fn(books),
                                "j int, cluster int, i int, s double")
               .groupBy("j", "cluster", "i").agg(F.sum("s").alias("s"))
               .collect())
        counts: dict[tuple[int, int], float] = {}
        sums: dict[tuple[int, int], dict[int, float]] = {}
        for r in agg:
            key = (r["j"], r["cluster"])
            if r["i"] == -1:
                counts[key] = r["s"]
            else:
                sums.setdefault(key, {})[r["i"]] = r["s"]
        nxt = [list(b) for b in books]   # empty cluster keeps its centroid
        for (j, c), dims in sums.items():
            nxt[j][c] = [dims[i] / counts[(j, c)] for i in range(sub)]
        books = nxt
    return books


def _partial_sums_fn(books: list[list[list[float]]]):
    """Lloyd partials for every subspace ``j``: each slices the same
    row matrix, assigns by :func:`_argmin_rows` and emits
    ``(j, cluster, i, s)`` rows of ``np.add.at`` member sums plus the
    member count at ``i = -1``."""
    mats = [np.asarray(b, dtype=np.float64) for b in books]
    k, sub = mats[0].shape

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            full = np.array([np.asarray(v, dtype=np.float64)
                             for v in pdf["_v"]])
            parts = []
            for j, cmat in enumerate(mats):
                mm = full[:, j * sub:(j + 1) * sub]
                asg = _argmin_rows(mm, cmat)
                sums = np.zeros((k, sub))
                np.add.at(sums, asg, mm)
                counts = np.bincount(asg, minlength=k)
                hit = np.flatnonzero(counts)
                parts.append(pd.DataFrame({
                    "j": np.full(len(hit) * (sub + 1), j, dtype=np.int32),
                    "cluster": np.concatenate([np.repeat(hit, sub), hit]),
                    "i": np.concatenate([np.tile(np.arange(sub), len(hit)),
                                         np.full(len(hit), -1)]),
                    "s": np.concatenate([sums[hit].ravel(),
                                         counts[hit].astype(np.float64)]),
                }))
            yield pd.concat(parts, ignore_index=True)

    return fn


def kmeans_fit(df: DataFrame, k: int = 8, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               ) -> tuple[list[list[float]], DataFrame]:
    """Run ``iters`` Lloyd update steps (:func:`_lloyd` with one
    subspace) and return ``(final_centroids, cached_float64_input)``.

    The returned DataFrame ``(id_col, _v)`` is persisted — the
    CALLER owns the cache and must ``unpersist()`` it once its
    derived result is materialized (``kmeans_assign``/``semdedup``
    checkpoint their outputs and release it immediately).
    """
    data = (df.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("_v"))
              .persist())
    return _lloyd(data, k, iters, 1, "kmeans_fit")[0], data


def kmeans_assign(df: DataFrame, k: int = 8, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  ) -> DataFrame:
    """``(id_col, cluster)`` after ``iters`` Lloyd update steps —
    the assignment against the final centroids.  Eager: the (small)
    assignment is checkpointed so the fit cache can be released."""
    centroids, data = kmeans_fit(df, k=k, iters=iters, id_col=id_col,
                                 vec_col=vec_col)
    out = (data.select(F.col(id_col), _assign_col("_v", centroids))
               .localCheckpoint(eager=True))
    data.unpersist()
    return out


def semdedup(df: DataFrame, k: int = 8, iters: int = 2,
             threshold: float = 0.95, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by KMeans
    partitioning + within-cluster cosine pruning.  Returns the
    SURVIVOR set ``(id_col,)``: an embedding is dropped iff ANY
    lower-id embedding in the same cluster is within cosine >=
    ``threshold`` of it — whether or not that witness itself
    survives.  Chains therefore collapse toward their minimum (a—b
    and b—c drops both b and c even when cos(a, c) < threshold),
    the aggressive end of the SemDeDup family; for the
    keep-chain-ends alternative run ``dup_clusters`` over the
    near-dup pair graph and pick per-component representatives.

    Scale shape: candidate pairs are confined to KMeans cells (the
    SemDeDup trick — never all-pairs); the greedy keep-lowest-id rule
    is a single anti-join against the min-neighbor relation, no
    iterative connected components needed (a kept doc is one with no
    smaller-id near-duplicate in its cell, the standard SemDeDup
    greedy order).

    The within-cell verify is ONE shuffle on the cluster id into
    ``applyInPandas`` running the embedding near-dup family's kernel
    (``similarity._bucket_pairs_exact_pdf``): a tiled normalized
    matmul picks candidates with bounded scratch even for a degenerate
    cell, and each candidate's cosine is the bit-exact twin of the
    Catalyst fold over the ``array<double>`` vectors
    (``dot / (norm_a * norm_b)``, float64 products, strict
    left-to-right sum) — the float shape the DuckDB oracle replays.
    """
    centroids, data = kmeans_fit(df, k=k, iters=iters, id_col=id_col,
                                 vec_col=vec_col)
    tagged = data.select(F.col(id_col), "_v", _assign_col("_v", centroids))
    idt = df.schema[id_col].dataType.simpleString()

    def pairs_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        return _bucket_pairs_exact_pdf(pdf, id_col, "_v", threshold)

    # dropped ids are tiny; eager-checkpoint them so the fit cache can
    # be released before the final anti-join runs
    dropped = (tagged.groupBy("cluster")
               .applyInPandas(pairs_in_cell,
                              schema=f"id_a {idt}, id_b {idt}, _cos double")
               .select(F.col("id_b").alias(id_col))
               .distinct()
               .localCheckpoint(eager=True))
    data.unpersist()
    return df.select(id_col).join(dropped, id_col, "left_anti")
