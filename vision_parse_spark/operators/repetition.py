"""Repetition filters — the Gopher/RefinedWeb-style curation signals.

Web-scale corpora are polluted by documents that repeat themselves
(boilerplate line spam, keyword stuffing, template loops); standard
curation drops documents whose duplicate-line fraction or top-n-gram
fraction exceeds a threshold.  Both signals here are PURE relational
expressions:

* ``dup_line_frac`` — 1 - distinct/total over the line split, a
  narrow Catalyst expression (no shuffle, no UDF);
* ``top_bigram_frac`` — the most frequent bigram's share of all
  bigrams, via explode -> per-(doc, bigram) count -> per-doc max —
  two hash aggregations that combine map-side, so the hot-doc skew a
  pathological repeater creates collapses before the shuffle.

Integer-counting throughout; the only floats are final int/int
divisions rounded to 6, so the DuckDB oracle replays exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import spread


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition signals: (id, n_lines, dup_line_frac,
    n_bigrams, top_bigram_frac)."""
    from collections import Counter

    from pyspark.sql.types import (LongType, StructField, StructType)

    from vision_parse_spark.functions.text_stats import java_ws_tokens

    # Both signals are PER-DOCUMENT statistics, so the bigram census
    # never needs to leave the row (round 7; guide §2.4 "remove
    # shuffles outright"): the old plan exploded every bigram
    # occurrence into a (doc, bigram) count agg plus a per-doc re-agg
    # plus a join back — two corpus-token-sized exchanges for numbers
    # a per-row Counter produces exactly (top count and total are
    # integers; the fraction stays a Catalyst round of their
    # division).  The plan is now one narrow Project, zero shuffle.
    @F.pandas_udf(StructType([StructField("top", LongType()),
                              StructField("total", LongType())]))
    def bigram_stats(texts: pd.Series) -> pd.DataFrame:
        tops, totals = [], []
        for t in texts:
            toks = java_ws_tokens(t)
            if len(toks) < 2:
                tops.append(0)
                totals.append(0)
                continue
            c = Counter(zip(toks, toks[1:]))
            tops.append(max(c.values()))
            totals.append(len(toks) - 1)
        return pd.DataFrame({"top": tops, "total": totals},
                            index=texts.index)

    lines = F.expr(
        f"filter(transform(split({text_col}, '\\n'), x -> trim(x)),"
        f" x -> x != '')"
    )
    return spread(df).select(
        F.col(id_col),
        lines.alias("_lines"),
        bigram_stats(F.col(text_col)).alias("_bg"),
    ).select(
        id_col,
        F.size("_lines").alias("n_lines"),
        F.when(F.size("_lines") > 0,
               F.round(1 - F.size(F.array_distinct("_lines"))
                       / F.size("_lines"), 6))
        .otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.col("_bg.total").alias("n_bigrams"),
        F.when(F.col("_bg.total") > 0,
               F.round(F.col("_bg.top") / F.col("_bg.total"), 6))
        .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
    )


def repetition_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.3,
    max_top_bigram_frac: float = 0.2,
) -> DataFrame:
    """Drop documents whose repetition signals exceed the thresholds
    (Gopher-rule shape); returns the surviving rows of ``df``."""
    stats = repetition_stats(df, id_col, text_col)
    keep = stats.filter(
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac)
    ).select(id_col)
    return df.join(keep, id_col, "left_semi")
