"""Repetition filters — the Gopher/RefinedWeb-style curation signals.

Web-scale corpora are polluted by documents that repeat themselves
(boilerplate line spam, keyword stuffing, template loops); standard
curation drops documents whose duplicate-line fraction or top-n-gram
fraction exceeds a threshold.  Both signals are per-document:

* ``dup_line_frac`` — 1 - distinct/total over the line split, a
  narrow Catalyst expression (no shuffle, no UDF);
* ``top_bigram_frac`` — the most frequent bigram's share of all
  bigrams, from :func:`bigram_census` in a narrow Arrow kernel (no
  shuffle: the census never leaves the row).

Integer-counting throughout; the only floats are final int/int
divisions rounded to 6, so the DuckDB oracle replays exactly.  The
column builders are shared with ``curate``'s gate, so the gate and
``repetition_stats`` apply one definition.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.text_stats import java_ws_tokens
from ..session import spread


def bigram_census(toks: list) -> tuple[int, int]:
    """``(top, total)`` of one token list: the count of its most
    frequent bigram and the number of bigrams, both 0 below two
    tokens.  The one bigram census: ``repetition_stats`` and the
    ``curate`` gate kernel both call it."""
    if len(toks) < 2:
        return 0, 0
    return max(Counter(zip(toks, toks[1:])).values()), len(toks) - 1


def lines_col(text_col: str) -> Column:
    """The doc's non-empty space-trimmed lines (Spark ``trim`` strips
    only spaces), the input of :func:`dup_line_frac_col`."""
    return F.expr(f"filter(transform(split({text_col}, '\\n'),"
                  f" x -> trim(x)), x -> x != '')")


def dup_line_frac_col(lines: Column) -> Column:
    """``1 - distinct/total`` over ``lines``, rounded to 6; 0.0 for a
    doc without lines."""
    return (F.when(F.size(lines) > 0,
                   F.round(1 - F.size(F.array_distinct(lines))
                           / F.size(lines), 6))
            .otherwise(F.lit(0.0)))


def top_bigram_frac_col(top: Column, total: Column) -> Column:
    """``top / total`` of a :func:`bigram_census`, rounded to 6; 0.0
    for a doc without bigrams."""
    return (F.when(total > 0, F.round(top / total, 6))
            .otherwise(F.lit(0.0)))


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition signals: (id, n_lines, dup_line_frac,
    n_bigrams, top_bigram_frac)."""
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
        census = [bigram_census(java_ws_tokens(t)) for t in texts]
        return pd.DataFrame(census, columns=["top", "total"],
                            index=texts.index)

    return spread(df).select(
        F.col(id_col),
        lines_col(text_col).alias("_lines"),
        bigram_stats(F.col(text_col)).alias("_bg"),
    ).select(
        id_col,
        F.size("_lines").alias("n_lines"),
        dup_line_frac_col(F.col("_lines")).alias("dup_line_frac"),
        F.col("_bg.total").alias("n_bigrams"),
        top_bigram_frac_col(F.col("_bg.top"), F.col("_bg.total"))
        .alias("top_bigram_frac"),
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
