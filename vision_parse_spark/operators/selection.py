"""Data-selection operators: the Gopher rule filter bundle and DSIR
hashed-n-gram importance weighting.

Two published corpus-selection methods the curation family was still
missing (both first-class LLM-pipeline ops next to the dedup /
decontamination / mixture operators):

* ``gopher_rules`` — the document-level quality heuristics of
  Gopher / MassiveText (Rae et al. 2021, appendix A1.1): word-count
  band, mean-word-length band, symbol-to-word ratio, bullet- and
  ellipsis-line fractions, alphabetic-word fraction, stop-word
  containment.  (The repetition-section rules of the same appendix —
  duplicate line / top-n-gram fractions — live in
  ``operators/repetition.py`` already and are NOT duplicated here;
  compose the two for the full MassiveText gate.)

* ``dsir_logweights`` / ``dsir_select`` — Data Selection via
  Importance Resampling (Xie et al. 2023): documents are featurized
  as hashed word uni+bigram counts, target and raw corpora induce
  smoothed categorical distributions p / q over the hash buckets,
  and each raw document scores the bag log-likelihood ratio
  ``sum_b count_b * (ln p_b - ln q_b)``; selection takes the top-n
  by that weight.

Everything is pure Catalyst (``pyspark.sql.functions`` — zero
Python in the data path) and each op has a byte-exact DuckDB oracle
in ``__spark_entry__.py``.

Scale shape (100 TB honest): gopher_rules is a narrow Project —
no shuffle at all.  DSIR shuffles ONCE on the bounded bucket key
(`n_buckets` distinct keys, map-side combine makes the exchange
tiny), broadcasts the two B-row distributions back onto the gram
stream, and aggregates per-doc on the id key — one data-sized
shuffle; the target side is eval-sized and never gates corpus
parallelism.  ``dsir_select``'s top-n ends in the bounded
``TakeOrderedAndProject`` pattern (never a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text_stats import ws_tokens
from ..session import spread
from .sampling import hash_bucket

# --- Gopher rules (Rae et al. 2021, A1.1 "quality filtering") ------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher quality signals + the combined pass flag.

    Returns ``(id_col, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    stop_hits, gopher_pass)`` — one narrow codegen'd Project, no
    shuffle; callers semi-join on the flag to gate a corpus.

    Rule inventory follows the paper's word-level heuristics; the
    duplicate-text rules of the same appendix are
    ``operators/repetition.py`` (compose both for full MassiveText).
    """
    toks = ws_tokens(text_col)
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"),
                    lambda x: F.trim(x)),
        lambda x: x != "")
    tk, ln = F.col("toks_"), F.col("lines_")
    n_words = F.size(tk)
    n_lines = F.size(ln)
    # total token characters via the joined stream (no second explode)
    tok_chars = F.length(F.array_join(tk, ""))
    mean_wl = F.when(n_words > 0, tok_chars / n_words).otherwise(0.0)
    n_sym = (F.size(F.regexp_extract_all(F.col(text_col),
                                         F.lit("#"), 0))
             + F.size(F.regexp_extract_all(
                 F.col(text_col), F.lit(r"\.\.\.|…"), 0)))
    sym_ratio = F.when(n_words > 0, n_sym / n_words).otherwise(0.0)
    bullet_frac = F.when(n_lines > 0, F.size(F.filter(
        ln, lambda x: x.rlike(r"^(\*|-|•)")
    )) / n_lines).otherwise(0.0)
    ellipsis_frac = F.when(n_lines > 0, F.size(F.filter(
        ln, lambda x: x.rlike(r"(\.\.\.|…)$")
    )) / n_lines).otherwise(0.0)
    alpha_frac = F.when(n_words > 0, F.size(F.filter(
        tk, lambda x: x.rlike("[a-z]"))) / n_words
    ).otherwise(0.0)
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(tk),
                                         stop_arr))

    out = (
        df.select(F.col(id_col), toks.alias("toks_"),
                  lines.alias("lines_"), F.col(text_col))
        .select(
            id_col,
            n_words.alias("n_words"),
            F.round(mean_wl, 4).alias("mean_word_len"),
            F.round(sym_ratio, 4).alias("symbol_word_ratio"),
            F.round(bullet_frac, 4).alias("bullet_line_frac"),
            F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
            F.round(alpha_frac, 4).alias("alpha_word_frac"),
            stop_hits.alias("stop_hits"),
        )
    )
    gate = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return out.withColumn("gopher_pass", gate)


# --- DSIR (Xie et al. 2023) ----------------------------------------

def _gram_stream(df: DataFrame, id_col: str, text_col: str,
                 n_buckets: int) -> DataFrame:
    """(id, bucket): one row per hashed uni+bigram OCCURRENCE — a
    NARROW explode over the token stream (the bigram stream zips the
    token array with its tail, no second tokenize).  Deliberately
    left un-aggregated: the bucket distribution aggregates it on the
    bounded bucket key (map-side combine makes that exchange B-row
    tiny) and the weight pass aggregates it on the id key, so
    neither consumer pays a (id, bucket)-keyed data-sized shuffle.

    (Round-7 measurement note: an Arrow-kernel twin of this stream
    — unique-gram md5 hashing per batch — was measured 2.4x SLOWER
    than this Catalyst form at sf1.0 (14.4s vs 6.1s for the raw
    stream): Spark's ``md5``/``conv`` are codegen'd natives, and the
    UDF boundary + per-doc array explode costs more than the
    interpreted ``zip_with``; the Catalyst form stays.)"""
    toks = ws_tokens(text_col)
    grams = F.expr(
        "concat(toks_, CASE WHEN size(toks_) >= 2 THEN "
        "zip_with(slice(toks_, 1, size(toks_) - 1), "
        "slice(toks_, 2, size(toks_) - 1), (a, b) -> "
        "concat(a, ' ', b)) ELSE array() END)")
    return (
        df.select(F.col(id_col), toks.alias("toks_"))
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .select(F.col(id_col),
                hash_bucket("gram", n_buckets).alias("bucket"))
    )


def _bucket_dist(stream: DataFrame, out_col: str) -> DataFrame:
    """(bucket, out_col): total gram count per hash bucket — the
    exchange is bounded by the bucket-key cardinality."""
    return (stream.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out_col)))


def dsir_logweights(
    raw_df: DataFrame,
    target_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-raw-document DSIR importance log-weight.

    ``log w(d) = sum_b c_db * (ln p_b - ln q_b)`` with add-``smoothing``
    estimates ``p_b = (t_b + s) / (T + s*B)`` from the target corpus
    and ``q_b`` likewise from the raw corpus.  Returns ``(id_col,
    n_grams, logw)`` (logw rounded to 4 decimals for cross-engine
    float stability; the ROUNDED value is the contract).

    The two bucket distributions are B-row aggregates (map-side
    combined, then broadcast); the only data-sized exchange is the
    per-doc gram aggregation on ``id_col``.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    raw_s = _gram_stream(spread(raw_df), id_col, text_col, n_buckets)
    tgt_s = _gram_stream(spread(target_df), id_col, text_col, n_buckets)
    q = _bucket_dist(raw_s, "qc")
    p = _bucket_dist(tgt_s, "pc")
    # full outer over the bounded bucket space; unseen buckets get
    # the smoothing mass only.  Checkpointed (B rows): the totals
    # collect AND the final ratio join both read it — previously the
    # ratio branch re-ran BOTH full gram streams a second time
    # (guide §2.4: the 5 stream evaluations become 3 — the two dist
    # builds plus the weight pass's own raw re-scan).
    dist = (q.join(p, "bucket", "full_outer")
            .select("bucket",
                    F.coalesce("qc", F.lit(0)).alias("qc"),
                    F.coalesce("pc", F.lit(0)).alias("pc"))
            .localCheckpoint(eager=True))
    totals = dist.agg(F.sum("qc").alias("qn"),
                      F.sum("pc").alias("pn")).collect()[0]
    qn = float(totals["qn"] or 0)
    pn = float(totals["pn"] or 0)
    s, b = float(smoothing), float(n_buckets)
    ratio = dist.select(
        "bucket",
        (F.log((F.col("pc") + s) / F.lit(pn + s * b))
         - F.log((F.col("qc") + s) / F.lit(qn + s * b))).alias("lr"),
    )
    # the ONLY data-sized shuffle: per-doc aggregation of the
    # ratio-joined occurrence stream (map-side partial sums)
    return (
        raw_s.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.round(F.sum("lr"), 4).alias("logw"))
    )


def dsir_select(
    raw_df: DataFrame,
    target_df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """Top-``n`` raw documents by DSIR importance weight (the
    deterministic hard-selection variant; ``(logw desc, id)`` order
    makes ties stable).  The limit compiles to the bounded
    ``TakeOrderedAndProject`` — per-partition heaps, no global sort.
    """
    w = dsir_logweights(raw_df, target_df, id_col, text_col,
                        n_buckets, smoothing)
    return (w.orderBy(F.col("logw").desc(), F.col(id_col))
             .limit(n))


# --- C4 cleaning (Raffel et al. 2020, §2.2) ------------------------

# The paper gates on the full "List of Dirty, Naughty, Obscene or
# Otherwise Bad Words"; shipping that list is out of scope, so the
# default is a tiny demonstrative subset — callers pass the real
# blocklist.  Matching is whole-word on the lowercased page, exactly
# as C4's word-level containment check.
C4_BAD_WORDS = ("badword1", "badword2", "obscenity")

# \z (absolute end) rather than $: Java's $ also matches before a
# final \r/\n line terminator while RE2's does not — \z is identical
# in both engines, so a line left with a trailing \r by a \r\n split
# fails the rule identically on both sides.
_C4_TERMINAL_LINE = '[.!?"]\\z'        # terminal punct incl. end quote
_C4_SENTENCE_MARK = "[.!?]"            # sentence proxy over kept text


def c4_filters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_sentences: int = 5,
    min_line_words: int = 3,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
) -> DataFrame:
    """The C4 cleaning bundle (Raffel et al. 2020 §2.2) — the other
    canonical published web-corpus gate next to ``gopher_rules``.

    LINE rules (applied to ``\\n``-split, trimmed lines):

    * keep only lines ending in a terminal punctuation mark
      (``. ! ?`` or a closing double quote);
    * keep only lines with at least ``min_line_words`` words;
    * drop any line containing the word ``javascript``
      (case-insensitive whole word).

    PAGE rules (over the original page text, lowercased):

    * drop pages with fewer than ``min_sentences`` sentences —
      counted as terminal-mark occurrences in the KEPT text (a
      deterministic proxy for the paper's sentence splitter);
    * drop pages containing any blocklist word (whole-word);
    * drop pages containing the phrase ``lorem ipsum``;
    * drop pages containing a curly bracket.

    Returns ``(id_col, n_lines_kept, n_sentences, c4_pass,
    clean_text)`` where ``clean_text`` re-joins the surviving lines
    with ``\\n`` (empty string when nothing survives).  ``c4_pass``
    is the page-level gate; line filtering is applied regardless so
    survivors are already cleaned.

    Scale shape (100 TB honest): ONE narrow codegen'd Project —
    every rule is a Catalyst higher-order function or regexp over
    the row itself; no shuffle, no UDF, parallelism from input
    splits alone.  Regexes restricted to identical Java-regex/RE2
    semantics (the ``scrub_pii`` precedent) so the DuckDB oracle
    replays byte-identically.
    """
    if not bad_words:
        raise ValueError("c4_filters: bad_words must be non-empty "
                         "(pass the real blocklist)")
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"),
                    lambda x: F.trim(x)),
        lambda x: x != "")
    kept = F.filter(
        F.col("lines_"),
        lambda x: x.rlike(_C4_TERMINAL_LINE)
        & (F.size(F.filter(F.split(x, r"\s+"),
                           lambda w: w != "")) >= min_line_words)
        & ~F.lower(x).rlike(r"\bjavascript\b"))
    low = F.lower(F.col(text_col))
    bad_re = "\\b(" + "|".join(bad_words) + ")\\b"
    out = (
        df.select(F.col(id_col), F.col(text_col), lines.alias("lines_"))
        .select(F.col(id_col), F.col(text_col), kept.alias("kept_"))
        .select(
            id_col,
            F.size("kept_").alias("n_lines_kept"),
            F.size(F.regexp_extract_all(
                F.array_join("kept_", "\n"),
                F.lit(_C4_SENTENCE_MARK), 0)).alias("n_sentences"),
            (~low.rlike(bad_re)
             & ~low.contains("lorem ipsum")
             & ~low.contains("{")).alias("page_ok_"),
            F.array_join("kept_", "\n").alias("clean_text"),
        )
    )
    gate = (F.col("page_ok_")
            & (F.col("n_sentences") >= min_sentences))
    return (out.withColumn("c4_pass", gate)
               .select(id_col, "n_lines_kept", "n_sentences",
                       "c4_pass", "clean_text"))


def flesch_kincaid(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Flesch–Kincaid grade level per document (Kincaid et al. 1975)
    — the readability signal quality-filter stacks use alongside the
    Gopher heuristics: ``0.39 * words/sentences + 11.8 *
    syllables/words - 15.59``.

    Counting recipe (deterministic, regex-only, both engines):
    words = the shared :func:`ws_tokens` recipe; sentences = runs of
    ``[.!?]`` in the lowered/trimmed text (clamped to >= 1 so
    fragments still score); syllables = vowel-group runs
    ``[aeiouy]+`` — the standard cheap approximation (hyphenation
    dictionaries don't beat it enough to matter for corpus-level
    filtering).

    Scale shape: a narrow codegen'd Project — zero shuffle, zero
    Python.  Counts are exact integers; the grade is a fixed-order
    double expression over them, bit-identical cross-engine,
    rounded to 4 decimals.
    """
    safe = f"coalesce({text_col}, '')"   # NULL text = empty doc
    low = F.expr(f"lower(trim({safe}))")
    words = F.greatest(F.lit(1),
                       F.size(ws_tokens(safe)).cast("long"))
    sents = F.greatest(F.lit(1),
                       F.regexp_count(low, F.lit(r"[.!?]+"))
                        .cast("long"))
    syls = F.regexp_count(low, F.lit("[aeiouy]+")).cast("long")
    grade = (F.lit(0.39) * (words / sents)
             + F.lit(11.8) * (syls / words) - F.lit(15.59))
    return df.select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syls.alias("n_syllables"),
        F.round(grade, 4).alias("fk_grade"))


# explicit code-point ranges, NOT \p{script=...} classes: property
# tables differ across regex engines/Unicode versions, ranges don't
_SCRIPT_RANGES = (
    ("latin", "[A-Za-zÀ-ɏ]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("arabic", "[؀-ۿ]"),
    ("hebrew", "[֐-׿]"),
    ("devanagari", "[ऀ-ॿ]"),
    ("cjk", "[一-鿿]"),
    ("kana", "[぀-ヿ]"),
    ("hangul", "[가-힯]"),
)


def script_profile(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document writing-system profile — the multilingual-corpus
    triage signal next to :func:`~..functions.text_stats.lang_id`:
    character counts per major script block plus the dominant script
    (max count; ties break on the fixed block order above; ``none``
    when no scripted character occurs, e.g. digits-only).

    Counts use explicit code-point ranges so the answer is identical
    under any regex engine / Unicode version (RE2 and java.util.regex
    disagree on ``\\p{script=}`` tables).  Entirely narrow — one
    codegen'd regexp Project, zero shuffle, zero Python; all-integer
    output + a deterministic string, hash-exact.

    Output: ``(id_col, n_<script>... , dominant_script)``.
    """
    safe = F.coalesce(F.col(text_col), F.lit(""))  # NULL = empty
    counts = [F.regexp_count(safe, F.lit(pat))
               .cast("long").alias(f"n_{name}")
              for name, pat in _SCRIPT_RANGES]
    out = df.select(F.col(id_col), *counts)
    best = F.lit("none")
    best_n = F.lit(0).cast("long")
    for name, _ in _SCRIPT_RANGES:        # first-listed wins ties
        c = F.col(f"n_{name}")
        take = c > best_n
        best = F.when(take, F.lit(name)).otherwise(best)
        best_n = F.when(take, c).otherwise(best_n)
    return out.withColumn("dominant_script", best)
