"""Corpus-level frequent-span and frequent-line removal
(repeated-substring / boilerplate dedup).

Not present in the reference (it has no corpus-level ops).  This is
the span-granularity complement to document-level dedup, after
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better"): token spans (word ``n``-grams) that recur across more than
``max_df`` distinct documents are boilerplate — navigation chrome,
license headers, templated disclaimers — and are cut out of every
document while the surrounding unique text is kept.

Scale design (100 TB):

* The only full-corpus shuffle is the span doc-frequency aggregation,
  and it is Spark's two-stage distinct aggregate (partial distinct on
  the map side, so the exchange carries (gram, doc_id) pairs already
  locally deduplicated).
* Everything downstream is proportional to the *boilerplate hits*,
  not the corpus: the frequent-gram set (spans with df > ``max_df``)
  is joined back to the span stream, and only the matching rows are
  re-aggregated per document into a covered-start list.  Documents
  with no frequent span never shuffle again — they flow through the
  final left join untouched (AQE turns the cover side into a
  broadcast when it is small, the common case).
* The cut itself is a narrow Catalyst projection: a higher-order
  ``filter`` with the token index, testing coverage against the
  per-doc start list via ``exists`` — no UDF, stays inside
  whole-stage codegen.

The output text is re-joined from the normalized token stream
(lower/trim/split ``\\s+`` — the same recipe as the dedup/shingle
family), so ``clean_text`` is in normalized token space, not the raw
input byte stream.

:func:`remove_frequent_lines` is the same machinery at physical-line
granularity (the CCNet / RefinedWeb line-dedup family): exact
trimmed-line matching, original bytes preserved for survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from vision_parse_spark.functions.text_stats import ws_tokens as _tokens
from vision_parse_spark.session import spread


def remove_frequent_spans(df: DataFrame, n: int = 3, max_df: int = 3,
                          id_col: str = "doc_id", text_col: str = "text"
                          ) -> DataFrame:
    """Cut every token covered by a word ``n``-gram that occurs in
    more than ``max_df`` distinct documents.

    Returns ``(id_col, clean_text, n_removed)`` — one row per input
    row (documents shorter than ``n`` tokens, or with no frequent
    span, pass through with ``n_removed = 0``).  A token at position
    ``p`` is removed iff some frequent gram starts at
    ``s in [p - n + 1, p]``, i.e. the whole span is cut, matching the
    Lee-et-al span semantics rather than per-gram-instance removal.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = (spread(df).select(F.col(id_col), _tokens(text_col).alias("_toks"))
              .withColumn("_len", F.size("_toks")))

    grams = F.expr(
        f"transform(sequence(0, _len - {n}), "
        f"i -> struct(i as pos, concat_ws(' ', slice(_toks, i + 1, {n}))"
        f" as gram))")
    spans = (toks.filter(F.col("_len") >= n)
                 .select(id_col, F.explode(grams).alias("_s"))
                 .select(id_col, F.col("_s.pos").alias("pos"),
                         F.col("_s.gram").alias("gram")))

    frequent = (spans.groupBy("gram")
                .agg(F.countDistinct(id_col).alias("_df"))
                .filter(F.col("_df") > max_df)
                .select("gram"))

    cover = (spans.join(frequent, "gram")
                  .groupBy(id_col)
                  .agg(F.collect_list("pos").alias("_starts")))

    out = (toks.join(cover, id_col, "left")
               .withColumn("_starts",
                           F.coalesce("_starts",
                                      F.array().cast("array<int>"))))
    kept = F.filter(
        F.col("_toks"),
        lambda x, p: ~F.exists(
            F.col("_starts"),
            lambda s: (s <= p) & (p <= s + F.lit(n - 1))))
    return (out.withColumn("_kept", kept)
               .select(F.col(id_col),
                       F.concat_ws(" ", F.col("_kept")).alias("clean_text"),
                       (F.col("_len") - F.size("_kept")).alias("n_removed")))


def frequent_spans(df: DataFrame, n: int = 3, max_df: int = 3,
                   id_col: str = "doc_id", text_col: str = "text"
                   ) -> DataFrame:
    """The boilerplate census itself: ``(gram, doc_freq)`` for every
    ``n``-gram appearing in more than ``max_df`` distinct documents.
    Same doc-frequency relation ``remove_frequent_spans`` prunes
    with, exposed for threshold tuning and corpus audits."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = df.select(F.col(id_col), _tokens(text_col).alias("_toks"))
    grams = F.expr(
        f"transform(sequence(0, size(_toks) - {n}), "
        f"i -> concat_ws(' ', slice(_toks, i + 1, {n})))")
    return (toks.filter(F.size("_toks") >= n)
                .select(id_col, F.explode(grams).alias("gram"))
                .groupBy("gram")
                .agg(F.countDistinct(id_col).alias("doc_freq"))
                .filter(F.col("doc_freq") > max_df))


def remove_frequent_lines(df: DataFrame, max_df: int = 3,
                          id_col: str = "doc_id", text_col: str = "text"
                          ) -> DataFrame:
    """Line-granularity boilerplate removal (the CCNet / RefinedWeb
    line-dedup family): physical lines whose TRIMMED form recurs in
    more than ``max_df`` distinct documents — nav chrome, cookie
    banners, signatures, license headers — are deleted from every
    document; all other lines keep their ORIGINAL bytes and order.

    Complements :func:`remove_frequent_spans`: exact whole-line
    matching instead of token n-grams, and the surviving text is the
    raw input (original case/spacing/newlines), not the normalized
    token stream.  Blank/whitespace-only lines are structure, never
    boilerplate: they don't count toward doc frequency and are never
    removed.

    Returns ``(id_col, clean_text, n_removed_lines)``, one row per
    input row.

    Scale shape mirrors the span pass: ONE full-corpus shuffle (the
    two-stage distinct aggregate for line doc-frequency); the
    frequent-line set joins back to the line stream and only
    matching rows re-aggregate into a per-doc removal list
    (broadcast under AQE in the common small-boilerplate case); the
    cut is a narrow higher-order filter over the split array —
    zero Python, inside whole-stage codegen.
    """
    lines = (spread(df).select(F.col(id_col),
                       F.split(F.col(text_col), "\n").alias("_lines"))
               .withColumn("_n", F.size("_lines")))
    stream = (lines.select(
        id_col,
        F.posexplode("_lines").alias("pos", "line"))
        .withColumn("key", F.trim("line"))
        .filter(F.col("key") != ""))

    frequent = (stream.groupBy("key")
                .agg(F.countDistinct(id_col).alias("_df"))
                .filter(F.col("_df") > max_df)
                .select("key"))

    removed = (stream.join(frequent, "key")
               .groupBy(id_col)
               .agg(F.collect_list("pos").alias("_rm")))

    out = (lines.join(removed, id_col, "left")
                .withColumn("_rm", F.coalesce(
                    "_rm", F.array().cast("array<int>"))))
    kept = F.filter(
        F.col("_lines"),
        lambda x, p: ~F.exists(F.col("_rm"), lambda r: r == p))
    return (out.withColumn("_kept", kept)
               .select(F.col(id_col),
                       F.array_join("_kept", "\n").alias("clean_text"),
                       (F.col("_n") - F.size("_kept"))
                       .alias("n_removed_lines")))


def dedup_sentences(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Intra-document sentence dedup — the self-repetition cleanup
    (boilerplate refrains, copy-paste stutter) that corpus-level
    :func:`remove_frequent_lines` cannot see because each repeat
    lives inside ONE document.

    Sentence recipe (engine-portable, no lookbehind — RE2 has none):
    split on ``[.!?]+`` runs followed by whitespace or end, trim,
    drop empties; the terminal punctuation is not preserved in the
    output (documented recipe — dedup semantics only need segment
    identity).  First occurrence wins, order preserved.

    Scale shape: entirely narrow — one codegen'd Project of
    higher-order functions (split / indexed filter / array_join),
    zero shuffle, zero Python.

    Output: ``(id_col, n_sentences, n_unique, dedup_text)``.
    """
    # coalesce: NULL text is an empty doc, never size(NULL) = -1
    sents = (f"filter(transform(split(coalesce({text_col}, ''), "
             f"'[.!?]+(\\\\s+|$)'), x -> trim(x)), x -> x != '')")
    uniq = (f"filter(_sents, (x, i) -> "
            f"array_position(slice(_sents, 1, i + 1), x) = i + 1)")
    return (df.select(F.col(id_col),
                      F.expr(sents).alias("_sents"))
              .select(id_col,
                      F.size("_sents").cast("long")
                       .alias("n_sentences"),
                      F.expr(uniq).alias("_uniq"))
              .select(id_col, "n_sentences",
                      F.size("_uniq").cast("long").alias("n_unique"),
                      F.array_join("_uniq", " ").alias("dedup_text")))
