"""BPE merge learning (Sennrich et al. 2016) — tokenizer vocabulary
induction over a corpus — and the encoder that applies a merge table.

Not present in the reference (it has no corpus-level ops): learning
the merge table is the canonical tokenizer-training step of an LLM
data pipeline.  The corpus-sized work is one pass: the shared
:func:`ws_tokens` stream collapses to a ``(word, cnt)`` vocabulary
(map-side-combined count, the only corpus-sized shuffle).  That
relation is small — the distinct words, not the corpus — so the whole
fit then runs as ONE grouped-map task over it: every merge rank is a
weighted pair census, an argmax and a merge of every word, in Python
over the vocabulary, with no Spark job per rank.

One merge step, :func:`_merge_pair`, serves the fit and the encoder:
greedy left-to-right pairing (the reference BPE).  Within a chain of
consecutive matches of ``(a, b)``, the 1st, 3rd, ... merge and the
even ones are consumed: a fresh merge output ``a||b`` can never equal
``a`` (``b`` is non-empty), so a merged symbol never chain-merges
again within the same step — exactly the parity rule the DuckDB
oracle replays via gaps-and-islands.

Ties on pair frequency break on the pair's lexicographic order.
Python ``str`` order is code-point order, which is the UTF-8 byte
order Spark and DuckDB sort strings by — deterministic across engines
and partitionings.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from vision_parse_spark.functions.text_stats import (
    java_ws_tokens, ws_tokens)
from vision_parse_spark.session import spread


def _merge_pair(syms: list[str], a: str, b: str) -> list[str]:
    """Apply merge ``(a, b)`` to one word's symbols, greedy left to
    right."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def bpe_merges(df: DataFrame, n_merges: int = 20,
               text_col: str = "text") -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus.

    Returns a DataFrame ``(rank, left_sym, right_sym, freq)`` in rank
    order — merge rank (0-based), the merged symbol pair, and its
    weighted frequency at selection time.  Stops early (fewer rows)
    when no pair occurs twice.

    Words come from the shared :func:`ws_tokens` recipe and weigh
    by corpus frequency; symbols start as single characters (no
    end-of-word marker — the in-word merge table is the didactic
    core; markers are a caller-side symbol transform).  Each rank
    picks the pair by ``(freq desc, left asc, right asc)``.  Building
    the DataFrame runs no Spark job.
    """
    if n_merges < 1:
        raise ValueError(f"bpe_merges: n_merges must be >= 1 "
                         f"(got {n_merges})")

    def fit(vocab: pd.DataFrame) -> pd.DataFrame:
        cnts = vocab["cnt"].tolist()
        words = [list(w) for w in vocab["word"]]
        rows = []
        for rank in range(n_merges):
            pairs: Counter = Counter()
            for syms, c in zip(words, cnts):
                for p in zip(syms, syms[1:]):
                    pairs[p] += c
            best = min(((-f, a, b) for (a, b), f in pairs.items()
                        if f >= 2), default=None)
            if best is None:
                break
            f, a, b = best
            rows.append((rank, a, b, -f))
            words = [_merge_pair(s, a, b) for s in words]
        return pd.DataFrame(
            rows, columns=["rank", "left_sym", "right_sym", "freq"])

    return (spread(df)
            .select(F.explode(ws_tokens(text_col)).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            # one group; a bare integer literal would read as an ordinal
            .groupBy(F.lit("all").alias("_g"))
            .applyInPandas(fit, schema="rank int, left_sym string, "
                                       "right_sym string, freq bigint"))


def bpe_apply(df: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text",
              out_col: str = "bpe_tokens") -> DataFrame:
    """Segment every word of ``text_col`` with a learned merge list
    (applied in rank order — the standard BPE encoder) and flatten
    the per-word pieces in word order into ``out_col``.

    One narrow Arrow pass, zero shuffle.  Each merge is
    :func:`_merge_pair`, the step the fit uses, and each UNIQUE word
    of a batch is encoded once and mapped back.  Merge symbols are
    plain Python strings, never SQL literals, so no symbol needs
    escaping."""
    from pyspark.sql.types import ArrayType, StringType

    mlist = [(str(a), str(b)) for a, b in merges]

    @F.pandas_udf(ArrayType(StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            pieces = cache.get(word)
            if pieces is None:
                pieces = list(word)
                for a, b in mlist:
                    pieces = _merge_pair(pieces, a, b)
                cache[word] = pieces
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
    narrow Arrow kernel (zero shuffle), and the collapse is one
    map-side-combined agg on the BOUNDED group key.  All counts are
    exact integer sums; the two ratios are single double divisions of
    exact integers — bit-identical on any engine.

    Output: ``(group_col, n_docs, n_words, n_chars, n_pieces,
    pieces_per_word, chars_per_piece)``.
    """
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
