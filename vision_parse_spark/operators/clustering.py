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
  (each scan is one narrow job), exactly the Lloyd's access pattern.

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

# rows per distance-matrix tile in the Arrow assignment kernel:
# peak scratch is TILE x k doubles (plus the TILE x dim batch), so
# memory stays bounded for any k
_ASSIGN_TILE = 4096


def _assign_udf(centroids: list[list[float]]):
    """Arrow-batched Lloyd assignment: squared-Euclidean argmin
    against the broadcast centroid matrix, first-minimum tie-break
    (numpy argmin) = lowest cluster id, matching the oracle's
    ``ORDER BY dist, cid`` replay."""
    cmat = np.asarray(centroids, dtype=np.float64)          # k x d

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        out = np.empty(len(m), dtype=np.int32)
        for lo in range(0, len(m), _ASSIGN_TILE):
            tile = m[lo:lo + _ASSIGN_TILE]                  # t x d
            d2 = ((tile[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            out[lo:lo + _ASSIGN_TILE] = np.argmin(d2, axis=1)
        return pd.Series(out, index=vecs.index)

    return assign


def _assign_col(vec_col: str, centroids: list[list[float]]) -> Column:
    return _assign_udf(centroids)(F.col(vec_col)).alias("cluster")


def kmeans_fit(df: DataFrame, k: int = 8, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int | None = None
               ) -> tuple[list[list[float]], DataFrame]:
    """Run ``iters`` Lloyd update steps and return
    ``(final_centroids, cached_float64_input)``.

    Init: the ``k`` lowest-``id_col`` vectors, in id order (cluster
    ``j`` starts at the rank-``j`` vector).  A cluster that captures
    no points keeps its previous centroid.

    The returned DataFrame ``(id_col, _v)`` is persisted — the
    CALLER owns the cache and must ``unpersist()`` it once its
    derived result is materialized (``kmeans_assign``/``semdedup``
    checkpoint their outputs and release it immediately).
    """
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1, iters >= 0; got k={k} iters={iters}")
    data = (df.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("_v"))
              .persist())
    if dim is None:
        first = data.select(F.size("_v")).first()
        if first is None:
            raise ValueError("kmeans_fit: empty input")
        dim = first[0]

    seed_rows = data.orderBy(id_col).limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"kmeans_fit: k={k} but only {len(seed_rows)} rows")
    centroids = [list(r["_v"]) for r in seed_rows]

    # Each Lloyd step is ONE fused narrow pass: assign + per-batch
    # partial centroid sums inside the same Arrow kernel, emitting
    # <= k * (dim + 1) rows per batch (dim index -1 carries the
    # member count).  The combine is a two-column hash agg over
    # those partials — a k*dim-row exchange, never the data.  (A
    # groupBy with `dim` separate F.sum columns was 3x slower:
    # Catalyst compiles a fresh wide codegen'd aggregate per
    # iteration and the compile dominates the scan.)
    for _ in range(iters):
        update = data.mapInPandas(_partial_sums_fn(centroids),
                                  "cluster int, i int, s double")
        agg = (update.groupBy("cluster", "i").agg(F.sum("s").alias("s"))
               .collect())
        counts = {r["cluster"]: r["s"] for r in agg if r["i"] == -1}
        sums: dict[int, dict[int, float]] = {}
        for r in agg:
            if r["i"] >= 0:
                sums.setdefault(r["cluster"], {})[r["i"]] = r["s"]
        nxt = list(centroids)            # empty cluster keeps its centroid
        for c, dims in sums.items():
            n = counts[c]
            nxt[c] = [dims[i] / n for i in range(dim)]
        centroids = nxt
    return centroids, data


def _partial_sums_fn(centroids: list[list[float]]):
    cmat = np.asarray(centroids, dtype=np.float64)

    def fn(batches):
        k, d = cmat.shape
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["_v"]])
            sums = np.zeros((k, d))
            counts = np.zeros(k, dtype=np.int64)
            for lo in range(0, len(m), _ASSIGN_TILE):
                tile = m[lo:lo + _ASSIGN_TILE]
                d2 = ((tile[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
                asg = np.argmin(d2, axis=1)
                np.add.at(sums, asg, tile)
                np.add.at(counts, asg, 1)
            hit = np.flatnonzero(counts)
            yield pd.DataFrame({
                "cluster": np.concatenate([np.repeat(hit, d), hit]),
                "i": np.concatenate([np.tile(np.arange(d), len(hit)),
                                     np.full(len(hit), -1)]),
                "s": np.concatenate([sums[hit].ravel(),
                                     counts[hit].astype(np.float64)]),
            })

    return fn


def kmeans_assign(df: DataFrame, k: int = 8, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  dim: int | None = None) -> DataFrame:
    """``(id_col, cluster)`` after ``iters`` Lloyd update steps —
    the assignment against the final centroids.  Eager: the (small)
    assignment is checkpointed so the fit cache can be released."""
    centroids, data = kmeans_fit(df, k=k, iters=iters, id_col=id_col,
                                 vec_col=vec_col, dim=dim)
    out = (data.select(F.col(id_col), _assign_col("_v", centroids))
               .localCheckpoint(eager=True))
    data.unpersist()
    return out


def semdedup(df: DataFrame, k: int = 8, iters: int = 2,
             threshold: float = 0.95, id_col: str = "vec_id",
             vec_col: str = "embedding",
             dim: int | None = None) -> DataFrame:
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
                                 vec_col=vec_col, dim=dim)
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
