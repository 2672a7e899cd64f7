"""Linear quality classifier over hashed gram-presence features —
the CCNet / LLaMA-pipeline "seed vs crawl" quality filter (Wenzek et
al. 2020 §4.4 train a fastText linear classifier on wiki-vs-crawl;
Touvron et al. 2023 filter CommonCrawl with the same shape).

Not present in the reference (it has no corpus ops).  The model is
logistic regression on hashed uni+bigram PRESENCE features (the
hashing recipe shared with ``selection.py``'s DSIR operator; binary
presence rather than L1-normalized counts — measured on the test
corpus, normalized counts condition full-batch GD so badly the model
only ever learns the class prior, while presence features reach
AUC ~0.88 in 8 steps).  Training is full-batch gradient descent for
a FIXED number of iterations at a FIXED exact-binary learning rate,
so it is deterministic and replays in the DuckDB oracle.

Spark shape (the ``kmeans_fit`` idiom — weights are control-plane):

* the training corpus collapses ONCE to per-doc sorted distinct
  bucket arrays — two shuffles total (gram-distinct agg, per-doc
  collect), persisted and re-scanned per iteration;
* each GD step is ONE fused narrow Arrow pass (``mapInPandas``)
  computing z / sigmoid / residual and emitting <= n_buckets + 1
  partial gradient rows per batch; the combine is a hash agg on the
  BOUNDED bucket key and the summed gradient (n_buckets + 1 rows)
  collects to the driver, which updates the weight vector and
  re-broadcasts it as the next kernel's closure;
* scoring is the same kernel minus the gradient.

Determinism: all arithmetic is float64; partial-sum merge order
differs between engines, so weights drift by O(1e-12) relative per
step — propagated into the final sigmoid this is ~1e-12, five
orders below the 4-decimal score rounding, the same tolerance
argument as ``clustering.py`` (no observed flips at any SF).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..session import spread
from .selection import _gram_stream

_SIG_CLIP = 60.0  # |z| beyond this, sigmoid saturates in float64 anyway


def _doc_buckets(df: DataFrame, id_col: str, text_col: str,
                 n_buckets: int) -> DataFrame:
    """Per-doc sorted DISTINCT hashed-gram buckets ``(id_col,
    bkts)``; docs with zero grams are dropped (nothing to
    featurize).  Sorting makes the per-doc weight fold a fixed-order
    float sum on the Spark side."""
    g = _gram_stream(df, id_col, text_col, n_buckets)
    return (g.groupBy(id_col)
             .agg(F.sort_array(F.collect_set("bucket"))
                  .cast("array<int>").alias("bkts")))


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(z, -_SIG_CLIP, _SIG_CLIP)))


def _z_batch(pdf: pd.DataFrame, w: np.ndarray, bias: float) -> np.ndarray:
    z = np.full(len(pdf), bias, dtype=np.float64)
    for i, bk in enumerate(pdf["bkts"]):
        z[i] += float(w[np.asarray(bk, dtype=np.int64)].sum())
    return z


def _grad_fn(w: np.ndarray, bias: float):
    """One GD step's partial-gradient kernel: rows ``(i, s)`` with
    ``i`` the bucket (or -1 for the bias), ``s`` the batch partial of
    ``sum_d (sigmoid(z_d) - y_d) * [bucket in doc d]`` — at most
    ``len(w) + 1`` rows per batch regardless of batch size."""
    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            r = _sigmoid(_z_batch(pdf, w, bias)) \
                - pdf["y"].to_numpy(dtype=np.float64)
            g = np.zeros(len(w), dtype=np.float64)
            for ri, bk in zip(r, pdf["bkts"]):
                np.add.at(g, np.asarray(bk, dtype=np.int64), ri)
            hit = np.flatnonzero(g)
            yield pd.DataFrame({
                "i": np.concatenate([hit, [-1]]),
                "s": np.concatenate([g[hit], [float(r.sum())]]),
            })
    return fn


def quality_classifier_fit(
    raw_df: DataFrame,
    target_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 512,
    iters: int = 8,
    lr: float = 0.125,
) -> tuple[np.ndarray, float]:
    """Train the seed-vs-crawl logistic model (target label 1, raw
    label 0) and return ``(weights, bias)``.  ``lr`` defaults to an
    exact binary fraction (the repo's determinism convention for
    literals that enter float arithmetic)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    raw = _doc_buckets(raw_df, id_col, text_col, n_buckets) \
        .withColumn("y", F.lit(0))
    tgt = _doc_buckets(target_df, id_col, text_col, n_buckets) \
        .withColumn("y", F.lit(1))
    return _fit_from_features(raw, tgt, n_buckets, iters, lr)


def _fit_from_features(raw_feats: DataFrame, tgt_feats: DataFrame,
                       n_buckets: int, iters: int, lr: float
                       ) -> tuple[np.ndarray, float]:
    """GD loop over pre-featurized ``(…, bkts, y)`` frames — split
    out so :func:`quality_classifier` can featurize the raw corpus
    ONCE and reuse the relation for scoring."""
    train = raw_feats.unionByName(tgt_feats, allowMissingColumns=True) \
        .select("y", "bkts").persist()
    n_docs = train.count()
    if n_docs == 0:
        train.unpersist()
        raise ValueError("quality_classifier_fit: no trainable docs "
                         "(every doc tokenized to zero grams)")
    # The cached union inherits BOTH inputs' shuffle partitioning
    # (2x spark.sql.shuffle.partitions slivers), and every GD job
    # pays one Python-worker kernel invocation per partition — at
    # test scale that overhead dwarfs the math.  Coalesce the loop's
    # read to ~one Arrow batch per task (shuffle-free, derived from
    # the row count we just paid for, never increasing the partition
    # count, so at real scale this is a no-op).  Partial-sum merge
    # order was already arbitrary (hash agg over batches), the
    # documented O(1e-12) drift tolerance; re-verified hash-green at
    # all SFs after this change.
    cur_parts = train.rdd.getNumPartitions()
    target = max(1, min(cur_parts, -(-n_docs // 8192)))
    loop = train.coalesce(target) if target < cur_parts else train
    w = np.zeros(n_buckets, dtype=np.float64)
    bias = 0.0
    for _ in range(iters):
        parts = (loop.mapInPandas(_grad_fn(w, bias),
                                  "i int, s double")
                      .groupBy("i").agg(F.sum("s").alias("s"))
                      .collect())
        for r in parts:
            if r["i"] == -1:
                bias -= lr * r["s"] / n_docs
            else:
                w[r["i"]] -= lr * r["s"] / n_docs
    train.unpersist()
    return w, bias


def _score_fn(w: np.ndarray, bias: float, id_field: str):
    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame({
                id_field: pdf[id_field],
                "score": np.round(_sigmoid(_z_batch(pdf, w, bias)), 4),
            })
    return fn


def quality_classifier_score(
    df: DataFrame,
    weights: np.ndarray,
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_threshold: float = 0.5,
) -> DataFrame:
    """``(id_col, score, quality_keep)`` for every doc of ``df`` with
    >= 1 gram: ``score = round(sigmoid(z), 4)`` under the trained
    model, ``quality_keep = score >= keep_threshold``."""
    feats = _doc_buckets(df, id_col, text_col, len(weights))
    id_type = dict(df.dtypes)[id_col]
    out = feats.mapInPandas(_score_fn(np.asarray(weights, float),
                                      float(bias), id_col),
                            f"{id_col} {id_type}, score double")
    return out.withColumn("quality_keep",
                          F.col("score") >= F.lit(keep_threshold))


def quality_classifier(
    raw_df: DataFrame,
    target_df: DataFrame,
    score_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 512,
    iters: int = 8,
    lr: float = 0.125,
    keep_threshold: float = 0.5,
) -> DataFrame:
    """Fit on ``raw_df`` (label 0) vs ``target_df`` (label 1), then
    score ``score_df`` (default: ``raw_df``).

    The raw corpus is featurized ONCE (md5 gram hashing is the
    dominant cost); the same ``(id, bkts)`` relation feeds the GD
    loop and — in the default score-the-raw-corpus case — the scoring
    kernel, instead of re-running the featurization."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    raw_feats = _doc_buckets(spread(raw_df), id_col, text_col, n_buckets) \
        .localCheckpoint(eager=True)
    tgt_feats = _doc_buckets(spread(target_df), id_col, text_col, n_buckets)
    w, b = _fit_from_features(raw_feats.withColumn("y", F.lit(0)),
                              tgt_feats.withColumn("y", F.lit(1)),
                              n_buckets, iters, lr)
    if score_df is None:
        id_type = dict(raw_df.dtypes)[id_col]
        out = raw_feats.mapInPandas(
            _score_fn(np.asarray(w, float), float(b), id_col),
            f"{id_col} {id_type}, score double")
        return out.withColumn("quality_keep",
                              F.col("score") >= F.lit(keep_threshold))
    return quality_classifier_score(spread(score_df), w, b, id_col,
                                    text_col, keep_threshold)
