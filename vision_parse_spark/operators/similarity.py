"""Similarity search over embedding columns (array<float>).

Training-data-pipeline addition (no analog in the reference):
* brute-force cosine top-k — the correctness baseline; Catalyst-native
  dot product via ``F.zip_with`` + ``F.aggregate`` (JVM, codegen).
* LSH-bucketed ANN (random hyperplanes) — the scale path: signature
  -> bucket join, so the cross product is restricted to collisions.
* embedding-cosine near-dup: pairs above a cosine threshold.

Scale notes: brute force is O(Q x N) — fine for small Q (probe
queries) even at large N because it is one broadcast of Q rows against
a scan of N; all-pairs work must go through the LSH path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_sim_col(a, b):
    """Catalyst cosine similarity between two array columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus scan; rank per query with a window.  Ties broken by
    neighbor id for determinism."""
    # per-row norms hoisted OUT of the per-pair expression (guide §1.2
    # "per-task work"): the interpreted aggregate fold runs once per
    # row instead of once per (query, neighbor) pair; the per-pair
    # cosine keeps the exact float op order (dot / (norm_q * norm_n))
    # so every double is bit-identical to the unhoisted form.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec"),
        _norm(F.col(vec_col)).alias("_nn"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_vec"), F.col("n_vec"))
                    / (F.col("_qn") * F.col("_nn")),
                    round_digits).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def with_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
    out_col: str = "lsh_bucket",
    seed: int = 13,
) -> DataFrame:
    """Random-hyperplane signature as one long bucket id: bit i =
    sign(v . h_i).  All Catalyst (literal plane arrays, zip_with)."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = [
        F.when(_dot(F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in p])) > 0, F.lit(1)
               ).otherwise(F.lit(0)).cast("long")
        for p in planes
    ]
    bucket = bits[0]
    for i, b in enumerate(bits[1:], start=1):
        bucket = bucket + (b * F.lit(2 ** i))
    return df.withColumn(out_col, bucket)


def ann_topk_lsh(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only within matching hyperplane
    buckets.  Recall grows with fewer planes; the bucket join replaces
    the cross product (the 100 TB strategy)."""
    # norms hoisted per row before the bucket join (bit-identical
    # float order: dot / (norm_q * norm_n) — the brute_force_topk
    # hoist), so the fold cost is per row, not per collision pair
    c = with_lsh_bucket(
        df.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).alias("n_vec"),
                  _norm(F.col(vec_col)).alias("_nn")),
        dim, n_planes, "n_vec",
    )
    q = with_lsh_bucket(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"),
                       _norm(F.col(vec_col)).alias("_qn")),
        dim, n_planes, "q_vec",
    )
    sims = (
        c.join(F.broadcast(q), "lsh_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(_dot(F.col("q_vec"), F.col("n_vec"))
                    / (F.col("_qn") * F.col("_nn")), 4)
            .alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact
    verify (cosine >= threshold), id_a < id_b.

    Membership is decided on the UNROUNDED cosine: deciding on a
    value rounded to k decimals makes the pair set flip whenever two
    engines' float folds land on opposite sides of a 10^-k boundary
    (observed once at sf0.1 against the DuckDB oracle); the raw-double
    threshold compare only differs when the folds straddle the
    threshold itself (~1 ulp odds).  The rounded cosine stays as a
    diagnostic column.

    The within-bucket verify is :func:`_bucket_pairs_exact_pdf` in
    ``applyInPandas``: a tiled normalized matmul picks the candidate
    pairs, and the cosine of each candidate is the bit-exact twin of
    the Catalyst ``dot / (norm_a * norm_b)`` fold (:func:`_fold_dot`),
    so the pair set and every cosine double are the ones the DuckDB
    oracle replays.  Each bucket is cut into ``_PAIR_BLOCKS``
    deterministic id-hash blocks and the kernel runs per TRIANGLE
    TILE (bucket, lo, hi) — every unordered pair lives in exactly one
    tile, so a handful of hot buckets no longer serialize onto a
    handful of tasks (guide §2.5 skew).  The final ``round(_, 4)``
    stays in Catalyst."""
    idt = df.schema[id_col].dataType.simpleString()
    b = (with_lsh_bucket(df.select(id_col, vec_col), dim, n_planes,
                         vec_col)
         .withColumn("_blk", F.pmod(F.xxhash64(F.col(id_col)),
                                    F.lit(_PAIR_BLOCKS)).cast("int"))
         .withColumn("_t", F.explode(F.expr(
             f"transform(sequence(0, {_PAIR_BLOCKS - 1}), q -> "
             f"struct(least(_blk, q) as lo, greatest(_blk, q) as hi))"
         ))))

    def pairs_in_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return _bucket_pairs_exact_pdf(pdf, id_col, vec_col, threshold,
                                       blk_col="_blk", lo=key[1],
                                       hi=key[2])

    return (
        b.select(id_col, vec_col, "_blk", "lsh_bucket",
                 F.col("_t.lo").alias("_lo"), F.col("_t.hi").alias("_hi"))
        .groupBy("lsh_bucket", "_lo", "_hi").applyInPandas(
            pairs_in_tile,
            schema=f"id_a {idt}, id_b {idt}, _cos double")
        .select("id_a", "id_b", F.round("_cos", 4).alias("cosine"))
        .dropDuplicates(["id_a", "id_b"])
    )


# the benchmark's historical name for the same operator
embedding_near_dups_fast = embedding_near_dups


# pairs per verify tile: a tile's candidate-filter similarities
# (tile_rows x bucket doubles) and its exact-fold products
# (<= pairs x dim values) are both bounded by this, whatever the
# bucket size (round-4 verdict item 3)
_EXACT_PAIR_TILE = 250_000

# the candidate filter keeps pairs whose float64 normalized-matmul
# cosine is >= threshold - _COS_MARGIN.  The fold cosine of float32
# vectors differs from the true cosine by <= ~2^-23 (each float32
# product carries <= 2^-24 relative error, the norms <= 2^-25), and by
# ~dim * 2^-53 for float64 vectors, so the margin keeps every pair the
# exact compare can accept (for finite products above the float32
# underflow range)
_COS_MARGIN = 1e-6

# deterministic id-hash blocks per LSH bucket for the triangle-tiled
# exact verify: B blocks -> B(B+1)/2 independent tiles per bucket
# (parallelism), at the cost of shipping each vector B times through
# the one bucket shuffle — vectors are narrow, pairs are quadratic,
# so the trade is strongly in the tiles' favor
_PAIR_BLOCKS = 4


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Bit-exact twin of the Catalyst ``aggregate(zip_with(a, b,
    (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)`` fold over the last
    axis: the products keep the arrays' own width (``x * y`` stays
    FLOAT32 for ``array<float>``, FLOAT64 for ``array<double>``), the
    accumulation is a strict left-to-right FLOAT64 sum (each product
    upcast at the add) — vectorized ACROSS rows, sequential across
    dimensions, so every IEEE operation matches the interpreted
    fold's order and width exactly."""
    prod = a * b                           # same width, same rounding
    acc = np.zeros(prod.shape[:-1], dtype=np.float64)
    for j in range(prod.shape[-1]):
        acc += prod[..., j]                # f64 += upcast-add
    return acc


def _vectors(vecs: pd.Series) -> np.ndarray:
    """Stack an array column's values, keeping float32 (``array<float>``)
    and widening anything else to float64."""
    m = np.array([np.asarray(v) for v in vecs])
    return m if m.dtype == np.float32 else m.astype(np.float64)


def _bucket_pairs_exact_pdf(pdf: pd.DataFrame, id_col: str,
                            vec_col: str, threshold: float,
                            blk_col: str | None = None,
                            lo: int | None = None,
                            hi: int | None = None) -> pd.DataFrame:
    """Within-bucket exact verify with the CONTRACT float semantics:
    emits (id_a, id_b, _cos) for unordered pairs with
    ``_cos >= threshold``, where ``_cos`` is bit-identical to the
    Catalyst ``dot / (norm_a * norm_b)`` fold expression (see
    :func:`_fold_dot`; the dot fold is exactly symmetric, so pair
    orientation cannot change the double).

    Two steps per tile of at most ``_EXACT_PAIR_TILE`` pairs: a
    float64 normalized matmul keeps the pairs within ``_COS_MARGIN``
    of the threshold, then the exact fold decides on those candidates
    only.  Scratch stays bounded for degenerate buckets.

    With ``blk_col``/``lo``/``hi`` set, the frame is one TRIANGLE
    TILE of the bucket: rows carry a block tag in {lo, hi} and only
    pairs between block ``lo`` and block ``hi`` are emitted (the
    within-block triangle when ``lo == hi``) — each unordered pair
    of the bucket belongs to exactly one (lo, hi) tile, so the union
    over tiles is the exact bucket pair set."""
    empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                          "id_b": pd.Series(dtype="int64"),
                          "_cos": pd.Series(dtype="float64")})
    keepv = [v is not None for v in pdf[vec_col]]
    if not all(keepv):          # NULL vec -> NULL cosine -> dropped
        pdf = pdf[keepv]
    if len(pdf) < 2:
        return empty
    ids = pdf[id_col].to_numpy()
    m = _vectors(pdf[vec_col])
    norms = np.sqrt(_fold_dot(m, m))
    f = m.astype(np.float64)
    f /= np.where(norms > 0, norms, 1.0)[:, None]
    if blk_col is None:
        xs = ys = np.arange(len(ids))
    else:
        blk = pdf[blk_col].to_numpy()
        xs, ys = np.flatnonzero(blk == lo), np.flatnonzero(blk == hi)
    tri = blk_col is None or lo == hi      # pairs i < j of one row set
    fx = f[xs]
    fy = fx if tri else f[ys]
    tile = max(1, _EXACT_PAIR_TILE // max(len(ys), 1))
    outs: list[pd.DataFrame] = []
    for s in range(0, len(xs), tile):
        c0 = s + 1 if tri else 0           # columns that can pair
        li, lj = np.nonzero(fx[s:s + tile] @ fy[c0:].T
                            >= threshold - _COS_MARGIN)
        gi, gj = li + s, lj + c0
        if tri:
            gi, gj = gi[gj > gi], gj[gj > gi]
        i, j = xs[gi], ys[gj]
        cos = _fold_dot(m[i], m[j]) / (norms[i] * norms[j])
        keep = cos >= threshold            # same f64 compare
        if not keep.any():
            continue
        ia, ib = ids[i[keep]], ids[j[keep]]
        outs.append(pd.DataFrame({
            "id_a": np.minimum(ia, ib),
            "id_b": np.maximum(ia, ib),
            "_cos": cos[keep],
        }))
    return pd.concat(outs, ignore_index=True) if outs else empty


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse k-means quantizer + cell-restricted
# search, the classic alternative scale path to hyperplane LSH
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 29,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train coarse centroids with Lloyd iterations on a driver-side
    sample (the standard IVF recipe: the quantizer is tiny and global;
    only ASSIGNMENT is distributed).  Deterministic: seeded init on a
    deterministic sample."""
    sample = np.array(
        [r[0] for r in df.select(vec_col).orderBy(F.xxhash64(vec_col))
         .limit(sample_size).collect()],
        dtype=np.float64,
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), n_centroids, replace=False)]
    for _ in range(iters):
        sims = sample @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                v = members.mean(axis=0)
                centroids[c] = v / max(np.linalg.norm(v), 1e-12)
    return centroids


def _cell_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """Arrow-batched assignment: the ``nprobe`` cells of highest
    cosine to the broadcast centroid matrix, ties to the lowest cell.
    The cosine is the :func:`_fold_dot` twin of the Catalyst
    ``dot / (norm_row * norm_cent)`` fold (float32 products when the
    vectors and centroids are float32), so with data-seeded float32
    centroids the assignment is the one the DuckDB oracle replays.  A
    NaN cosine (zero vector) sorts first, as NaN does in a Spark or
    DuckDB ``DESC`` order."""
    from pyspark.sql.types import ArrayType, IntegerType

    cmat = np.asarray(centroids)
    cnorm = np.sqrt(_fold_dot(cmat, cmat))
    rows = max(1, _EXACT_PAIR_TILE // len(cmat))

    @F.pandas_udf(ArrayType(IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        m = _vectors(vecs)
        top = np.empty((len(m), min(nprobe, len(cmat))), dtype=np.int32)
        for s in range(0, len(m), rows):
            t = m[s:s + rows]
            cos = (_fold_dot(t[:, None, :], cmat[None, :, :])
                   / (np.sqrt(_fold_dot(t, t))[:, None] * cnorm))
            key = np.where(np.isnan(cos), -np.inf, -cos)
            top[s:s + rows] = np.argsort(key, axis=1,
                                         kind="stable")[:, :nprobe]
        return pd.Series(list(top), index=vecs.index)

    # guide §4.4 duplication guard (probes explode the cell array)
    return assign.asNondeterministic()


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: corpus rows live in their nearest cell; each
    query probes its ``nprobe`` nearest cells, so the dot products run
    against ~nprobe/n_centroids of the corpus instead of all of it.
    Shuffle plan: one exchange on cell id (the inverted file), then a
    per-cell join — no cross product.

    ``centroids`` is any ``n_centroids x dim`` matrix; cell ``c`` is
    row ``c``.  k-means centroids from :func:`train_ivf_centroids` are
    the recall path.  A DATA-SEEDED quantizer (the float32 embeddings
    of some rows, in a fixed order) makes every step — cosine cell
    assignment, probing, rank — a deterministic relational expression
    that DuckDB replays exactly; the ``ann_ivf`` contract query runs
    that.  Cell assignment is by cosine, so centroid normalization is
    unnecessary.  The neighbor cosine is the Catalyst fold, rounded
    to 4 decimals; ranks break ties on the lower neighbor id."""
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
    ).withColumn("cell", _cell_assign_udf(centroids, 1)(F.col("n_vec"))[0])
    probes = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn(
        "cell", F.explode(_cell_assign_udf(centroids, nprobe)(F.col("q_vec")))
    )
    sims = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine_sim_col(F.col("q_vec"), F.col("n_vec")), 4)
            .alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
