"""Distributed BPE merge learning (Sennrich et al. 2016) — tokenizer
vocabulary induction over a corpus.

Not present in the reference (it has no corpus-level ops): learning
the merge table is the canonical tokenizer-training step of an LLM
data pipeline, and its Spark shape is a textbook control-plane loop
(like Lloyd's in ``clustering.py``): the corpus collapses once to a
``(word, count)`` vocabulary relation, then every merge round is

  1. a weighted symbol-pair count — explode adjacent pairs, map-side
     combined agg on the BOUNDED pair key space;
  2. a global argmax via ``TakeOrderedAndProject`` (one row to the
     driver — control plane, never the data);
  3. a NARROW merge-apply pass: one codegen'd ``aggregate`` fold per
     word rewriting the symbol array left-to-right (no explode, no
     shuffle), checkpointed so the lineage never nests.

Greedy left-to-right pairing semantics (the reference BPE): within a
chain of consecutive matches of ``(a, b)``, the 1st, 3rd, ... merge
and the even ones are consumed.  The fold implements this by
comparing the accumulator's LAST symbol; a fresh merge output
``a||b`` can never equal ``a`` (``b`` is non-empty), so a merged
symbol never chain-merges again within the same round — exactly the
parity rule, which is what the DuckDB oracle replays via
gaps-and-islands.

Ties on pair frequency break on the pair's lexicographic order —
deterministic across engines and partitionings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Row, functions as F

from vision_parse_spark.functions.text_stats import ws_tokens
from vision_parse_spark.session import spread


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> (word, cnt, syms) with syms the per-character symbol
    array.  The ONLY corpus-sized shuffle in the whole computation."""
    # per-char split via explicit substring transform — identical
    # construction on any engine (empty-pattern split() semantics
    # vary across engines/versions)
    return (df.select(F.explode(ws_tokens(text_col)).alias("word"))
              .groupBy("word")
              .agg(F.count(F.lit(1)).alias("cnt"))
              .withColumn("syms", F.expr(
                  "transform(sequence(1, length(word)), "
                  "i -> substring(word, i, 1))")))


def _merge_fold_expr(a: str, b: str) -> str:
    """Left-to-right greedy apply of merge (a, b) over the symbol
    array as one Catalyst ``aggregate`` fold.  Backslashes are
    escaped BEFORE quotes (ADVICE r6): a corpus token containing a
    backslash would otherwise be mangled by Spark's string-literal
    escape processing (e.g. a literal ``\\n`` becoming a newline)."""
    def q(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    qa, qb = q(a), q(b)
    return (
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
        f"case when size(acc) > 0 and element_at(acc, -1) = '{qa}' "
        f"and x = '{qb}' then concat(slice(acc, 1, size(acc) - 1), "
        f"array('{qa}{qb}')) else concat(acc, array(x)) end)"
    )


def bpe_merges(df: DataFrame, n_merges: int = 20,
               text_col: str = "text") -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus.

    Returns a DataFrame ``(rank, left_sym, right_sym, freq)`` — merge rank
    (0-based), the merged symbol pair, and its weighted frequency at
    selection time.  Stops early (fewer rows) when no pair occurs
    twice.

    Words come from the shared :func:`ws_tokens` recipe and weigh
    by corpus frequency; symbols start as single characters (no
    end-of-word marker — the in-word merge table is the didactic
    core; markers are a caller-side symbol transform).
    """
    if n_merges < 1:
        raise ValueError(f"bpe_merges: n_merges must be >= 1 "
                         f"(got {n_merges})")
    spark = df.sparkSession
    vocab = _word_vocab(spread(df), text_col).localCheckpoint(eager=True)
    merges: list[Row] = []
    for rank in range(n_merges):
        pairs = (vocab.filter(F.size("syms") >= 2)
                      .select("cnt", F.explode(F.expr(
                          "transform(sequence(1, size(syms) - 1), "
                          "i -> struct(element_at(syms, i) as l, "
                          "element_at(syms, i + 1) as r))")).alias("p"))
                      .groupBy(F.col("p.l").alias("l"),
                               F.col("p.r").alias("r"))
                      .agg(F.sum("cnt").alias("freq")))
        top = (pairs.filter(F.col("freq") >= 2)
                    .orderBy(F.desc("freq"), F.asc("l"), F.asc("r"))
                    .limit(1).collect())
        if not top:
            break
        a, b, freq = top[0].l, top[0].r, top[0].freq
        merges.append(Row(rank=rank, left_sym=a, right_sym=b,
                          freq=int(freq)))
        # lazy checkpoint: the NEXT rank's pairs aggregation is the
        # first (and only) action over the folded vocab, so it both
        # computes the fold once and materializes the checkpoint in
        # the SAME job — eager=True here cost a second full job per
        # merge rank for identical results (measured 2x the loop's
        # fixed cost; values unaffected, checkpointing never changes
        # them)
        vocab = (vocab.withColumn("syms", F.expr(_merge_fold_expr(a, b)))
                      .localCheckpoint(eager=False))
    schema = "rank int, left_sym string, right_sym string, freq bigint"
    return spark.createDataFrame(merges, schema=schema)


def bpe_apply(df: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text",
              out_col: str = "bpe_tokens") -> DataFrame:
    """Segment every word of ``text_col`` with a learned merge list
    (applied in rank order — the standard BPE encoder) and flatten
    the per-word pieces in word order into ``out_col``.

    One narrow Arrow pass, zero shuffle.  The round-7 kernel applies
    each merge with the EXACT left-to-right greedy fold the old
    nested Catalyst ``aggregate`` expressions implemented (pure
    string algebra — no floats, so the pieces are identical), but
    each UNIQUE word of a batch is encoded once and mapped back,
    instead of paying ``n_merges`` interpreted folds per word
    OCCURRENCE.  Merge symbols are plain Python strings, which also
    removes the SQL-literal escaping hazard of interpolated
    expressions (ADVICE r6)."""
    from pyspark.sql.types import ArrayType, StringType

    from vision_parse_spark.functions.text_stats import java_ws_tokens

    mlist = [(str(a), str(b)) for a, b in merges]

    @F.pandas_udf(ArrayType(StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            pieces = cache.get(word)
            if pieces is None:
                syms = list(word)
                for a, b in mlist:
                    out: list[str] = []
                    for x in syms:
                        if out and out[-1] == a and x == b:
                            out[-1] = a + b
                        else:
                            out.append(x)
                    syms = out
                pieces = cache[word] = syms
            return pieces

        return pd.Series(
            [[p for w in java_ws_tokens(t) for p in enc(w)]
             for t in texts],
            index=texts.index)

    return spread(df).withColumn(out_col, encode(F.col(text_col)))


def bpe_fertility(df: DataFrame, merges: list[tuple[str, str]],
                  text_col: str = "text",
                  group_col: str = "source") -> DataFrame:
    """Tokenizer fertility audit per group — the standard check run
    before committing to a vocabulary (how many pieces per word does
    each source pay, how many characters does one piece carry?).
    High fertility on a source means the vocabulary under-serves it
    (classic symptom: non-English or code shards tokenized nearly
    char-by-char).

    Scale shape (100 TB): the encode pass is :func:`bpe_apply`'s
    narrow codegen'd fold Project (zero shuffle), and the collapse is
    one map-side-combined agg on the BOUNDED group key.  All counts
    are exact integer sums; the two ratios are single double
    divisions of exact integers — bit-identical on any engine.

    Output: ``(group_col, n_docs, n_words, n_chars, n_pieces,
    pieces_per_word, chars_per_piece)``.
    """
    from ..functions.text_stats import ws_tokens

    # NULL text must count as an empty doc, not as size(NULL) = -1
    # silently corrupting the integer sums (review finding)
    enc = bpe_apply(df.select(F.col(group_col).alias("g"),
                              F.coalesce(F.col(text_col), F.lit(""))
                               .alias("_txt")),
                    merges, text_col="_txt")
    toks = ws_tokens("_txt")
    per_doc = enc.select(
        "g",
        F.size(toks).cast("long").alias("_w"),
        F.length(F.concat_ws("", toks)).cast("long").alias("_c"),
        F.size("bpe_tokens").cast("long").alias("_p"))
    agg = (per_doc.groupBy("g")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("_w").alias("n_words"),
                F.sum("_c").alias("n_chars"),
                F.sum("_p").alias("n_pieces")))
    return agg.select(
        F.col("g").alias(group_col), "n_docs", "n_words", "n_chars",
        "n_pieces",
        F.round(F.col("n_pieces") / F.nullif(F.col("n_words"),
                                             F.lit(0)), 6)
         .alias("pieces_per_word"),
        F.round(F.col("n_chars") / F.nullif(F.col("n_pieces"),
                                            F.lit(0)), 6)
         .alias("chars_per_piece"))
