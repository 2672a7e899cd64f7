"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's own surface (these are the pipeline ops a
100 TB corpus job needs next to extraction): language-ID, quality
scoring, token counting, document fingerprinting.  All vectorized
pandas/numpy; each also has a Catalyst-native (pure ``pyspark.sql.
functions``) twin in ``__spark_entry__.py`` queries so the hot path
stays JVM-side when the heuristic is SQL-expressible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def ws_tokens_sql(text_col: str) -> str:
    """The corpus-wide normalized token stream as a Spark SQL
    expression string: lower / trim / split on ``\\s+`` / drop
    empties.  ONE definition shared by the dedup, SimHash, span,
    repetition, BM25 and postings operators — every DuckDB oracle
    replays this exact recipe (``string_split_regex(lower(trim(..)),
    '\\s+')`` + empty filter), so all call sites must stay
    byte-identical.  Change here = change everywhere + re-check the
    oracles."""
    return f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"


def ws_tokens(text_col: str):
    """Column form of :func:`ws_tokens_sql`."""
    from pyspark.sql import functions as F

    return F.expr(ws_tokens_sql(text_col))


# Java's Pattern \s (what Spark's split(.., '\\s+') matches) and RE2's
# \s (DuckDB string_split_regex) are the ASCII class [ \t\n\x0b\f\r];
# Python's re \s is unicode-wide, so the Arrow kernels spell the class
# out for engine parity: SimHash, winnowing, repetition and BPE
# tokenize through java_ws_tokens, chunking splits on JAVA_WS_RE.
import re as _re  # noqa: E402

JAVA_WS_RE = _re.compile(r"[ \t\n\x0b\f\r]+")


def java_ws_tokens(text) -> list:
    """Python twin of :func:`ws_tokens_sql` for Arrow kernels:
    lower / trim / split on the Java ``\\s+`` class / drop empties —
    token-identical to the Catalyst expression (the DuckDB oracles
    of the kernels that use it replay the SQL recipe)."""
    return [t for t in JAVA_WS_RE.split((text or "").strip().lower())
            if t]


def word_ngrams_udf(n: int):
    """Arrow-batched word ``n``-gram generator over the
    :func:`ws_tokens_sql` stream — every occurrence, in order (NOT
    distinct), space-joined: string-identical to the Catalyst
    ``transform(sequence(0, size(toks) - n), i -> concat_ws(' ',
    slice(toks, i+1, n)))`` expression, which is an interpreted
    higher-order lambda and was measured the dominant per-row cost
    of the gram-exploding operators.  Docs with fewer than ``n``
    tokens yield an empty array (dropped by the caller's explode,
    matching the Catalyst ``size >= n`` filter)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType

    import pandas as pd

    @F.pandas_udf(ArrayType(StringType()))
    def grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            ts = java_ws_tokens(t)
            out.append([" ".join(ts[i:i + n])
                        for i in range(len(ts) - n + 1)]
                       if len(ts) >= n else [])
        return pd.Series(out, index=texts.index)

    # guide §4.4: gram arrays feed explode(); without this the
    # Generate's inferred constraint duplicates the UDF below the
    # preceding exchange (two ArrowEvalPython nodes in the plan)
    return grams.asNondeterministic()

# tiny marker-word inventories per language (deterministic heuristic —
# the point is the vectorized counting pattern, not linguistic recall)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "por"],
    "de": ["der", "die", "und", "das", "nicht"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

_WORD_RE = r"[A-Za-z0-9]+(?:'[A-Za-z]+)?"  # BPE-ish word pieces
_PUNCT_RE = r"[^\w\s]"


def token_count(s: pd.Series) -> pd.Series:
    """Whitespace+wordpiece token count (vectorized regex count)."""
    return s.fillna("").str.count(_WORD_RE).astype("int64")


def quality_score(s: pd.Series) -> pd.Series:
    """Composite quality score in [0,1]: length band + punctuation
    ratio + stopword ratio (classic C4/Gopher-style filters,
    deterministic)."""
    t = s.fillna("")
    n_chars = t.str.len().to_numpy(dtype="float64")
    n_tokens = token_count(t).to_numpy(dtype="float64")
    n_punct = t.str.count(_PUNCT_RE).to_numpy(dtype="float64")
    stop_pat = r"(?i)\b(?:" + "|".join(STOPWORDS) + r")\b"
    n_stop = t.str.count(stop_pat).to_numpy(dtype="float64")

    with np.errstate(divide="ignore", invalid="ignore"):
        len_ok = np.clip(n_chars / 200.0, 0.0, 1.0)
        punct_ratio = np.where(n_chars > 0, n_punct / n_chars, 1.0)
        punct_ok = np.clip(1.0 - 4.0 * punct_ratio, 0.0, 1.0)
        stop_ratio = np.where(n_tokens > 0, n_stop / n_tokens, 0.0)
        stop_ok = np.clip(stop_ratio / 0.2, 0.0, 1.0)
    score = np.round((len_ok + punct_ok + stop_ok) / 3.0, 4)
    return pd.Series(score, index=s.index)


def lang_id(s: pd.Series) -> pd.Series:
    """Marker-word language ID: argmax of per-language marker counts,
    'und' when no markers hit.  Fully vectorized (one regex count per
    language, numpy argmax)."""
    t = s.fillna("").str.lower()
    langs = list(LANG_MARKERS)
    counts = np.zeros((len(t), len(langs)), dtype="int64")
    for j, lang in enumerate(langs):
        pat = r"\b(?:" + "|".join(map(np.str_, LANG_MARKERS[lang])) + r")\b"
        counts[:, j] = t.str.count(pat).to_numpy()
    best = counts.argmax(axis=1)
    hit = counts.max(axis=1) > 0
    out = np.where(hit, np.array(langs, dtype=object)[best], "und")
    return pd.Series(out, index=s.index, dtype="object")


def doc_fingerprint(s: pd.Series, *, mod: int = (1 << 61) - 1) -> pd.Series:
    """Rolling polynomial hash fingerprint of the whole document
    (Rabin-Karp style), vectorized via pandas hashing on normalized
    text.  Stable across runs and partitions."""
    norm = (
        s.fillna("")
        .str.lower()
        .str.replace(r"\s+", " ", regex=True)
        .str.strip()
    )
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy()
    return pd.Series((h % mod).astype("int64"), index=s.index)


def lexical_diversity(df, id_col: str = "doc_id",
                      text_col: str = "text"):
    """Per-document lexical diversity — type-token ratio and hapax
    share, the corpus-linguistics signals next to the quality /
    Gopher heuristics (template spam: low TTR; gibberish: hapax
    share near 1).

    Entirely narrow (zero shuffle, zero Python): one codegen'd
    Project of higher-order functions over the shared
    :func:`ws_tokens` stream.  The hapax count is the O(V*N)
    nested-filter fold — fine for document-sized arrays (the
    per-row cost is bounded by the row, not the corpus).  Counts
    are exact integers; the two ratios are single double divisions
    (bit-identical cross-engine), NULL for token-less docs.

    Output: ``(id_col, n_tokens, n_types, n_hapax, ttr,
    hapax_ratio)``.
    """
    from pyspark.sql import functions as F

    from ..session import spread

    toks = ws_tokens(f"coalesce({text_col}, '')")
    hapax = (f"size(filter(array_distinct(_toks), t -> "
             f"size(filter(_toks, x -> x = t)) = 1))")
    return (spread(df).select(F.col(id_col), toks.alias("_toks"))
              .select(
                  id_col,
                  F.size("_toks").cast("long").alias("n_tokens"),
                  F.size(F.array_distinct("_toks")).cast("long")
                   .alias("n_types"),
                  F.expr(hapax).cast("long").alias("n_hapax"))
              .select(
                  id_col, "n_tokens", "n_types", "n_hapax",
                  F.round(F.col("n_types")
                          / F.nullif(F.col("n_tokens"), F.lit(0)), 6)
                   .alias("ttr"),
                  F.round(F.col("n_hapax")
                          / F.nullif(F.col("n_tokens"), F.lit(0)), 6)
                   .alias("hapax_ratio")))
