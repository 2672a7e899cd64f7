"""Benchmark decontamination — drop training documents that share
word n-grams with an evaluation set (the standard leakage guard run
before every pretraining job; e.g. GPT-3 App. C / Gopher's 13-gram
rule use exactly this shape).

Not present in the reference (it has no corpus-level ops) — part of
the training-data operator family the task brief adds.

Scale design: the eval set is SMALL (benchmark suites — thousands of
docs) while the train side is the 100 TB corpus, so the plan must
never shuffle the corpus:

* eval grams: explode -> distinct -> **broadcast** (bounded by the
  eval suite's vocabulary, not the corpus);
* train side: narrow shingle explode, broadcast-hash semi join against
  the eval grams (zero corpus shuffle), then one map-side-combining
  count per contaminated doc id (only HIT rows reach the agg — a tiny
  fraction) and a broadcast anti join back onto the corpus.
* `min_hits` trades recall for junk-gram robustness (stopword-only
  grams collide by chance; requiring >= k distinct shared grams is the
  Gopher-style mitigation at small n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import spread
from .dedup import make_shingle_udf


def contamination_hits(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, n_hits): distinct eval n-grams each training doc shares
    with the eval set (docs with zero hits are absent).

    Shingling runs through the Arrow kernel (``make_shingle_udf`` —
    gram sets identical to the Catalyst ``with_shingles`` by
    construction; the interpreted array lambdas are ~10x slower on the
    corpus side, measured 8.5s -> ~1s at sf0.1)."""
    sh = make_shingle_udf(n)
    eval_grams = (
        spread(eval_df).select(F.explode(sh(F.col(text_col))).alias("gram"))
        .distinct()
    )
    train_grams = spread(train_df).select(
        id_col, F.explode(sh(F.col(text_col))).alias("gram"))
    hits = train_grams.join(F.broadcast(eval_grams), "gram")
    return hits.groupBy(id_col).agg(
        F.countDistinct("gram").alias("n_hits"))


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Training rows whose shared-distinct-n-gram count with the eval
    set is below ``min_hits`` (the decontaminated corpus)."""
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    contaminated = (
        contamination_hits(train_df, eval_df, id_col, text_col, n)
        .filter(F.col("n_hits") >= min_hits)
        .select(id_col)
    )
    return train_df.join(contaminated, id_col, "left_anti")


def exact_substring_hits(
    train_df: DataFrame,
    fragments_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    frag_id_col: str = "frag_id",
    frag_col: str = "fragment",
) -> DataFrame:
    """Exact-substring decontamination (the GPT-3 appendix-C flavor:
    an eval item contaminates a training doc if one of its character
    sequences appears VERBATIM) — the stricter companion to the
    n-gram-overlap :func:`contamination_hits`.

    Output: one row per (training doc, fragment) verbatim hit —
    ``(id_col, frag_id_col)``.

    Scale shape (100 TB): the fragment set is eval-sized, so it
    BROADCASTS; the corpus side is a narrow scan with a codegen'd
    ``contains`` predicate per fragment (BroadcastNestedLoopJoin —
    O(N x |frags|) string scans, the exact-substring contract; for
    huge fragment sets use the gram-based gate first and this as the
    verify pass on survivors).  No corpus shuffle at all.
    """
    frags = F.broadcast(
        fragments_df.select(frag_id_col, frag_col))
    return (spread(train_df).select(id_col, text_col)
            .join(frags,
                  F.contains(F.col(text_col), F.col(frag_col)))
            .select(id_col, frag_id_col))
