"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 +
training-data additions); each callable (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for every query (same
aliases, floats rounded identically on both sides).  As of round 3 all
entries are oracled: the flagship via a committed golden parquet, the
production SimHash via the unified md5 construction, IVF ANN via a
data-seeded quantizer whose assignment replays exactly in SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship vision_parse_spark to executor Python workers.

    The driver may build its own SparkSession from any cwd, so the
    package must be distributed explicitly — the sandbox analog of
    ``spark-submit --py-files engine.zip`` (north_rule deploy shape).
    Shipped once per SparkContext, whose list of included zips is the
    record: Spark refuses to add a path twice (and logs a warning for
    every attempt)."""
    import hashlib
    import zipfile

    # repo-path-keyed name: two checkouts (e.g. a measurement worktree
    # and the main tree) must not race on one zip — a stale shared zip
    # ships the OTHER tree's code to executors
    zpath = os.path.join(
        "/tmp",
        f"vision_parse_spark_pyfiles_"
        f"{hashlib.md5(_REPO.encode()).hexdigest()[:8]}.zip")
    if os.path.basename(zpath) in spark.sparkContext._python_includes:
        return
    src = os.path.join(_REPO, "vision_parse_spark")
    newest = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _d, fs in os.walk(src) for f in fs if f.endswith(".py")
    )
    if not os.path.exists(zpath) or os.path.getmtime(zpath) < newest:
        with zipfile.ZipFile(zpath + ".tmp", "w") as z:
            for root, _dirs, files in os.walk(src):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, _REPO))
        os.replace(zpath + ".tmp", zpath)
    spark.sparkContext.addPyFile(zpath)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # every contract query reads through here, so every query gets
    # the package shipped — UDF closures in package modules pickle BY
    # REFERENCE (cloudpickle), and a vanilla session built from a
    # foreign cwd has no other way to import them on workers (the
    # round-5 verify probe caught curate failing exactly this way)
    _ensure_pkg(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> transcripts shape -> fused mapInPandas
    extraction (T4+T5+T6+P1+P2), per-turn markdown out."""
    from vision_parse_spark import ExtractConfig, extract
    from vision_parse_spark.sources.readers import documents_as_transcripts

    _ensure_pkg(spark)
    df = documents_as_transcripts(spark, "/root/testdata/sf0.001")
    out = extract(df, ExtractConfig(image_mode="url"))
    return out.select(
        "conv_id", "turn_idx", "payload_kind", "markdown", "status"
    )


# ---------------------------------------------------------------------------
# queries — Spark side
# ---------------------------------------------------------------------------


def _q_extract_markdown(spark, sf_dir):
    from vision_parse_spark import ExtractConfig, extract
    from vision_parse_spark.sources.readers import documents_as_transcripts

    _ensure_pkg(spark)
    df = documents_as_transcripts(spark, sf_dir)
    return extract(df, ExtractConfig(image_mode="url")).select(
        "conv_id", "turn_idx", "payload_kind", "markdown", "status"
    )


def _q_extract_stats(spark, sf_dir):
    from vision_parse_spark import ExtractConfig, extract
    from vision_parse_spark.sources.readers import documents_as_transcripts

    _ensure_pkg(spark)
    df = documents_as_transcripts(spark, sf_dir)
    out = extract(df, ExtractConfig())
    return out.groupBy("payload_kind", "status").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.length("markdown")).alias("md_chars"),
    )


def _q_fence_strip(spark, sf_dir):
    # T6 llm.py:444-449 — Catalyst-native regexp_replace
    from vision_parse_spark.functions.fences import strip_code_fences_col

    return _t(spark, sf_dir, "documents").select(
        "doc_id", strip_code_fences_col(F.col("text")).alias("clean_text")
    )


def _q_empty_rule(spark, sf_dir):
    # P1 llm.py:333-334 — conditional projection, row count preserved
    d = _t(spark, sf_dir, "documents")
    empty = F.length(F.trim(F.col("text"))) == 0
    return d.select(
        "doc_id",
        F.when(empty, F.lit("")).otherwise(F.col("text")).alias("markdown"),
        F.when(empty, F.lit("empty")).otherwise(F.lit("ok")).alias("status"),
    )


def _q_fast_path(spark, sf_dir):
    # P2 llm.py:336-346 — confidence + flags -> branch (SQL twin of the
    # in-UDF mask logic)
    d = _t(spark, sf_dir, "documents")
    clean = F.length("text") - F.length(F.regexp_replace("text", "[a-z ]", ""))
    conf = F.round(clean / F.length("text"), 2)
    tables = F.col("text").contains("|")
    latex = F.col("text").contains("$")
    nonempty = F.length(F.trim("text")) > 0
    fast = (conf > 0.6) & ~tables & ~latex & nonempty
    return d.select(
        "doc_id",
        conf.alias("confidence"),
        fast.alias("is_fast"),
        F.when(fast, F.col("text"))
        .otherwise(F.concat(F.lit("[[FMT]] "), F.col("text")))
        .alias("routed"),
    )


def _q_ordered_turns(spark, sf_dir):
    # A1 parser.py:183-190 ordering invariant as a window
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id",
        F.row_number().over(w).cast("long").alias("turn_rank"),
    )


def _q_sessionize(spark, sf_dir):
    # session windows over event streams (30-min gap rule)
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ — route through LTZ for epoch seconds
    # (session tz pinned to UTC in get_spark, matching DuckDB's epoch())
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("new_sess", new_sess)
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
        .select("user_id", "event_id", "session_id")
    )


def _q_lev_similarity(spark, sf_dir):
    # T15 scoring.py:23-28 — normalized levenshtein on adjacent docs
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    p = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    mx = F.greatest(F.length("ta"), F.length("tb"))
    sim = F.when(mx == 0, F.lit(1.0)).otherwise(
        1 - F.levenshtein("ta", "tb") / mx
    )
    return p.select("id_a", "id_b", F.round(sim, 6).alias("similarity"))


def _q_rouge2(spark, sf_dir):
    """ROUGE-2 recall (Lin 2004) on the same adjacent-doc pairing as
    lev_similarity: candidate = doc id_a+1, reference = doc id_a.
    The clip/total counts are exact integers from the Arrow kernel;
    the division + round stays in Catalyst.  Pairs whose reference
    has < 2 tokens are absent (recall undefined)."""
    from vision_parse_spark.benchmarks.scoring import rouge_n_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    p = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return rouge_n_pairs(p, ["id_a", "id_b"], cand_col="tb",
                         ref_col="ta", n=2)


def _q_bloom_tokens(spark, sf_dir):
    """Portable Bloom membership sketch: the filter is built over the
    English subcorpus' token stream (one bounded-key OR-fold agg,
    <= m/32 rows out), broadcast, and probed with the 20 most
    frequent global tokens; the exact-membership twin column makes
    the one-sided guarantee (no false negatives) checkable."""
    from vision_parse_spark.functions.text_stats import ws_tokens
    from vision_parse_spark.operators.sketches import (
        bloom_build, bloom_probe)
    from vision_parse_spark.session import spread

    d = spread(_t(spark, sf_dir, "documents"))
    toks_en = (d.filter(F.col("lang") == "en")
                .select(F.explode(ws_tokens("text")).alias("tok")))
    toks_all = d.select(F.explode(ws_tokens("text")).alias("tok"))
    probes = (toks_all.groupBy("tok")
              .agg(F.count(F.lit(1)).alias("c"))
              .orderBy(F.desc("c"), F.asc("tok")).limit(20)
              .select("tok"))
    bloom = bloom_build(toks_en, "tok")
    maybe = bloom_probe(probes, bloom, "tok")
    en_set = toks_en.distinct().withColumn("_in", F.lit(1))
    return (maybe.join(en_set, "tok", "left")
                 .select("tok", "maybe_present",
                         F.col("_in").isNotNull()
                          .alias("actually_present")))


def _q_accuracy_agg(spark, sf_dir):
    # T16 scoring.py:53-60 — mean similarity per group
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("lang"),
                 F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    p = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    mx = F.greatest(F.length("ta"), F.length("tb"))
    sim = F.when(mx == 0, F.lit(1.0)).otherwise(
        1 - F.levenshtein("ta", "tb") / mx
    )
    # integer aggregate (sum of micro-similarities) — exact across
    # engines; float means differ in the last ulp under different
    # summation orders
    sim_e6 = F.round(sim * 1000000).cast("long")
    return p.groupBy("lang").agg(
        F.sum(sim_e6).alias("sum_sim_e6"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


def _q_exact_dedup(spark, sf_dir):
    from vision_parse_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0))
        .cast("long").alias("n_tokens"),
    )


def _quality_scored(d):
    """(doc_id, source, quality_e4) for _q_quality_score and
    _q_top_quality, scored by ``curation.quality_e4_col`` — the formula
    ``curate`` gates on; _QUALITY_SQL_CTES is its SQL form for the
    oracle.  One formula, so the score, the ranking and the gate
    cannot drift apart."""
    from vision_parse_spark.operators.curation import quality_e4_col

    n_tok = F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0))
    return d.filter(n_tok > 0).select(
        "doc_id", "source", quality_e4_col("text").alias("quality_e4"))


def _q_quality_score(spark, sf_dir):
    return _quality_scored(_t(spark, sf_dir, "documents")) \
        .select("doc_id", "quality_e4")


def _q_top_quality(spark, sf_dir):
    """Per-source best-quality selection (curation: keep the top-5
    quality docs per domain).  One shuffle on the group key +
    windowed rank; quality is the integer-e4 score from
    quality_score so the ordering replays exactly (doc_id
    tie-break)."""
    from vision_parse_spark.operators.aggregate import top_k_per_group

    scored = _quality_scored(_t(spark, sf_dir, "documents"))
    return top_k_per_group(scored, "source", "quality_e4", k=5,
                           tiebreak_col="doc_id")


def _q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    def cnt(pat):
        return F.size(F.regexp_extract_all(F.lower("text"), F.lit(pat), 0))
    en = cnt(r"\b(?:the|and|of|to|is)\b")
    fr = cnt(r"\b(?:le|la|et|les|des)\b")
    es = cnt(r"\b(?:el|los|las|una|por)\b")
    de = cnt(r"\b(?:der|die|und|das|nicht)\b")
    lang = (
        F.when((en >= fr) & (en >= es) & (en >= de) & (en > 0), "en")
        .when((fr >= es) & (fr >= de) & (fr > 0), "fr")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )
    return d.select("doc_id", lang.alias("lang_pred"))


def _q_ngram_jaccard(spark, sf_dir):
    from vision_parse_spark.operators.dedup import ngram_jaccard_adjacent

    return ngram_jaccard_adjacent(_t(spark, sf_dir, "documents"))


def _q_top_ngrams(spark, sf_dir):
    """Corpus top-50 3-gram frequencies (vocab/contamination profile).
    Plan: explode -> map-side-combined hash agg -> one shuffle ->
    TakeOrderedAndProject bounded top-k (no global sort)."""
    from vision_parse_spark.operators.corpus_stats import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"), n=3, k=50)


def _q_span_dedup(spark, sf_dir):
    """Frequent-span removal (Lee et al. 2022 repeated-substring
    dedup): cut every token covered by a 3-gram occurring in > 3
    distinct docs.  One full-corpus shuffle (two-stage distinct agg
    for gram doc-frequency); the cover re-agg and final join touch
    only boilerplate hits; the cut is a codegen'd higher-order
    filter, no UDF."""
    from vision_parse_spark.operators.spans import remove_frequent_spans

    return remove_frequent_spans(_t(spark, sf_dir, "documents"),
                                 n=3, max_df=3)


def _q_unigram_logprob(spark, sf_dir):
    """Corpus-relative unigram log-likelihood per doc (the cheap LM
    quality signal): one token explode feeds model + scorer, counts
    and (N, V) broadcast back, per-doc mean rounded to 4 decimals
    (ln differs cross-engine only in the last ulp)."""
    from vision_parse_spark.operators.corpus_stats import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


def _q_winnow_fps(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. 2003 / MOSS): per
    window of w=4 consecutive k=3-gram hashes keep the min; the
    selected (pos, hash) pairs localise shared runs between docs —
    the position-aware complement of MinHash.  Pure per-row Catalyst
    HOFs, zero shuffle; md5 hash construction so DuckDB replays the
    selection exactly."""
    from vision_parse_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"))


def _q_bigram_logprob(spark, sf_dir):
    """Interpolated bigram LM score (Jelinek-Mercer, lam=0.75 exact
    binary): catches word-order stuffing the unigram model cannot.
    Two count aggs train; the score pass joins broadcast counts;
    round-4 output per the unigram ulp analysis."""
    from vision_parse_spark.operators.corpus_stats import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"))


def _q_bpe_merges(spark, sf_dir):
    """Distributed BPE merge learning (Sennrich et al. 2016): the
    corpus collapses once to a (word, count) vocab; each round is a
    bounded-key pair census + one-row argmax + narrow fold rewrite.
    12 merges — enough to exercise multi-char chain merges on the
    documents table while keeping the replay oracle tractable."""
    from vision_parse_spark.operators.bpe import bpe_merges

    return bpe_merges(_t(spark, sf_dir, "documents"), n_merges=12)


def _q_ccnet_buckets(spark, sf_dir):
    """CCNet perplexity bucketing (Wenzek et al. 2020): head/middle/
    tail thirds by self-trained unigram LM score.  Cutoffs are
    DISCRETE rank statistics (score of the ceil(n/3)/ceil(2n/3)-th
    doc descending, ties to the better bucket) — actual data values,
    never interpolated floats — so DuckDB replays the assignment
    bit-identically."""
    from vision_parse_spark.operators.corpus_stats import (
        perplexity_buckets)

    return perplexity_buckets(_t(spark, sf_dir, "documents"))


def _q_postings(spark, sf_dir):
    """Inverted-index build: (term, df, ctf, sorted doc_id:tf
    posting string).  One term shuffle after a map-side-combined
    (term, doc) count; posting rendered as a string for
    engine-portable layout."""
    from vision_parse_spark.operators.corpus_stats import build_postings

    return build_postings(_t(spark, sf_dir, "documents"), min_df=2)


def _q_bm25(spark, sf_dir):
    """BM25 lexical retrieval: top-10 docs for a fixed 3-term query,
    Robertson idf, Catalyst-only (no UDF).  Ranking on the rounded
    score + id tie-break keeps the order engine-reproducible."""
    from vision_parse_spark.operators.corpus_stats import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"),
                     ["vector", "hash", "join"], k=10)


def _q_minhash_dedup(spark, sf_dir):
    # full LSH dedup pipeline (signature -> banding -> bucket join ->
    # jaccard verify -> survivor set); the md5 construction lets
    # DuckDB replay the ENTIRE pipeline and hash-check the survivor set
    from vision_parse_spark.operators.dedup import minhash_dedup

    return minhash_dedup(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id")


def _q_minhash_incremental(spark, sf_dir):
    # incremental near-dedup — the day-to-day training-pipeline shape:
    # a NEW batch (odd doc_ids, demo split) deduped against the
    # accumulated CORPUS (even doc_ids); only new x corpus bucket
    # collisions are verified.  Full DuckDB replay of
    # signature/banding/bucket-join/jaccard/anti-join.
    from vision_parse_spark.operators.dedup import minhash_dedup_incremental

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    return minhash_dedup_incremental(new, corpus).select("doc_id")


def _q_dup_clusters(spark, sf_dir):
    # duplicate CLUSTERS: connected components over the verified
    # near-dup pair graph (iterative min-label propagation, the Spark
    # connected-components idiom); DuckDB replays via a recursive-CTE
    # transitive closure over the same pairs
    from vision_parse_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_pairs,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(d)
    return dup_clusters(pairs).select("doc_id", "cluster_id")


def _q_curate(spark, sf_dir):
    # the full curation composition: quality gate -> repetition gate
    # -> MinHash near-dedup -> PII scrub.  Every stage is individually
    # oracled; this query proves the COMPOSITION end to end (DuckDB
    # replays all four stages and the semi-join structure).
    from vision_parse_spark.operators.curation import curate

    return curate(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("scrubbed_md5"))


def _q_curate_full(spark, sf_dir):
    # the SEVEN-stage curation composition — every cleaning family
    # the engine implements chained end to end: quality gate ->
    # repetition gate -> decontamination (eval = doc_id % 10 == 0,
    # same split as the decontaminate query) -> SemDeDup over the
    # survivors' embeddings -> MinHash near-dedup -> frequent-span
    # cut -> PII scrub.  Each stage is individually oracled; this
    # query proves their composition (gate-first pruning order,
    # subset-consistent KMeans init, anti-join drop semantics).
    from vision_parse_spark.operators.curation import curate_full

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter("doc_id % 10 = 0")
    tr = d.filter("doc_id % 10 != 0")
    emb = _t(spark, sf_dir, "embeddings")
    return curate_full(tr, ev, emb).select(
        "doc_id", F.md5("text").alias("scrubbed_md5"))


def _q_line_dedup(spark, sf_dir):
    # line-granularity boilerplate removal (CCNet / RefinedWeb line
    # dedup): trimmed lines recurring in > 3 distinct docs are cut
    # from every doc, surviving lines keep their ORIGINAL bytes —
    # the exact-whole-line complement of span_dedup's token n-grams.
    # One full-corpus shuffle (two-stage distinct agg for line doc
    # frequency); the cut is a codegen'd higher-order filter.
    from vision_parse_spark.operators.spans import remove_frequent_lines

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_frequent_lines(d, max_df=3)


def _q_quality_clf(spark, sf_dir):
    """CCNet/LLaMA-style seed-vs-crawl quality classifier: logistic
    regression on hashed gram-presence features, full-batch GD for 8
    exact steps at lr=0.125 (weights are control-plane, each step one
    fused Arrow pass).  Target corpus = docs containing the word
    'spark' (a content-keyed split the model can actually learn —
    the synthetic lang column is uncorrelated with the text); the
    whole table is then scored with keep_threshold=0.75."""
    from vision_parse_spark.operators.classifier import quality_classifier

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tgt = d.filter("concat(' ', text, ' ') LIKE '% spark %'")
    raw = d.filter("concat(' ', text, ' ') NOT LIKE '% spark %'")
    return quality_classifier(raw, tgt, score_df=d,
                              keep_threshold=0.75)


# The documents table is unpunctuated single-line word soup, on
# which every C4 rule is trivially degenerate (0 lines kept for all
# docs).  The contract query derives a deterministic punctuated
# multi-line page per doc — sentence breaks at fixed word
# boundaries, doc_id-keyed javascript / lorem-ipsum / curly-bracket
# injections — so every rule actually fires and the gate splits the
# table.  chr(10) (not a '\n' literal) because DuckDB strings do not
# process backslash escapes while Spark SQL strings do; the
# expression below is otherwise byte-identical in both engines.
_C4_PAGE_EXPR = (
    "concat("
    "replace(replace(text, ' merge ', concat('.', chr(10))), "
    "' data ', concat('?', chr(10))), "
    "case when doc_id % 4 = 0 then concat(chr(10), "
    "'Please enable javascript now.') else '' end, "
    "case when doc_id % 7 = 0 then concat(chr(10), "
    "'lorem ipsum dolor sit.') else '' end, "
    "case when doc_id % 11 = 0 then concat(chr(10), "
    "'brace { line here.') else '' end, "
    "'.')")


def _q_c4_filters(spark, sf_dir):
    # the C4 cleaning bundle (Raffel et al. 2020 §2.2): terminal-
    # punctuation / min-words / javascript line rules + blocklist /
    # lorem-ipsum / curly-bracket / min-sentence page rules — one
    # narrow codegen'd Project, no shuffle.  min_sentences=3 fits
    # the short synthetic pages so the gate actually splits the
    # table; the operator default is the paper's 5.
    from pyspark.sql import functions as F

    from vision_parse_spark.operators.selection import c4_filters

    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", F.expr(_C4_PAGE_EXPR).alias("text")))
    return c4_filters(d, min_sentences=3)


def _q_gopher_signals(spark, sf_dir):
    # the Gopher / MassiveText document-quality rule bundle (Rae et
    # al. 2021, A1.1): word-count band, mean word length, symbol
    # ratio, bullet/ellipsis line fractions, alphabetic-word
    # fraction, stop-word containment — one narrow codegen'd
    # Project, no shuffle.  Thresholds here are corpus-appropriate
    # for the short synthetic docs (min_words=30, min_stop_hits=1)
    # so the pass flag actually splits the table; the operator
    # defaults are the paper's.
    from vision_parse_spark.operators.selection import gopher_rules

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_rules(d, min_words=30, min_stop_hits=1)


def _q_dsir_weights(spark, sf_dir):
    # DSIR (Xie et al. 2023): hashed uni+bigram importance
    # log-weights of raw docs (doc_id % 10 != 0) against the target
    # split (doc_id % 10 == 0).  Bucket distributions are B-row
    # broadcast aggregates; the only data-sized shuffle is the
    # per-doc gram aggregation.
    from vision_parse_spark.operators.selection import dsir_logweights

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tgt = d.filter("doc_id % 10 = 0")
    raw = d.filter("doc_id % 10 != 0")
    return dsir_logweights(raw, tgt, n_buckets=512)


def _q_decontaminate(spark, sf_dir):
    # benchmark decontamination: training docs sharing >= 2 distinct
    # word 5-grams with the eval split (doc_id % 10 == 0) are dropped;
    # broadcast eval grams, zero corpus shuffle (the leakage guard
    # every pretraining run needs — Gopher's rule at 13-grams; 5 here
    # because the synthetic vocabulary is small).  DuckDB replays the
    # same shingle construction + distinct-gram counting.
    from vision_parse_spark.operators.decontaminate import decontaminate

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter("doc_id % 10 = 0")
    tr = d.filter("doc_id % 10 != 0")
    return decontaminate(tr, ev, n=5, min_hits=2).select("doc_id")


def _q_contamination_hits(spark, sf_dir):
    # the diagnostic side of decontamination: per-doc count of
    # distinct eval 5-grams shared (what an operator would inspect
    # before choosing min_hits); same broadcast-gram plan
    from vision_parse_spark.operators.decontaminate import (
        contamination_hits,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter("doc_id % 10 = 0")
    tr = d.filter("doc_id % 10 != 0")
    return contamination_hits(tr, ev, n=5).select("doc_id", "n_hits")


def _q_pack_contexts(spark, sf_dir):
    # sequence packing (concatenate-and-cut): window cumsum over the
    # id-ordered token stream -> bin/offset; pure window arithmetic,
    # integer-only, replayed exactly in DuckDB
    from vision_parse_spark.operators.chunking import pack_contexts

    return pack_contexts(_t(spark, sf_dir, "documents"), capacity=2048)


def _q_repetition_stats(spark, sf_dir):
    # Gopher/RefinedWeb-style repetition signals (dup-line fraction,
    # top-bigram fraction) — integer counting, final int/int division
    # rounded to 6, fully replayable in DuckDB
    from vision_parse_spark.operators.repetition import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _q_scrub_pii(spark, sf_dir):
    # PII redaction (emails/IPs/digit-runs/tokens) as a narrow
    # codegen'd regexp_replace chain; patterns restricted to
    # constructs with identical Java-regex/RE2 semantics, so DuckDB
    # replays the chain verbatim.  The documents corpus carries no
    # PII-shaped text, so this contract hash proves the NO-FALSE-
    # POSITIVE side (both engines leave 5k real texts byte-identical);
    # the redaction side is pytest-proven cross-engine on planted PII
    # (tests/test_scrub.py::test_scrub_matches_duckdb_semantics)
    from vision_parse_spark.functions.scrub import scrub_pii

    d = _t(spark, sf_dir, "documents")
    return scrub_pii(d.select("doc_id", "text")) \
        .select("doc_id", F.md5("text").alias("scrubbed_md5"))


def _q_hash_split(spark, sf_dir):
    # deterministic train/test assignment: md5-derived key bucket —
    # stable across runs/engines/cluster sizes (randomSplit is none of
    # those); exactly replayable in DuckDB
    from vision_parse_spark.operators.sampling import with_split

    d = _t(spark, sf_dir, "documents")
    return with_split(d, "doc_id", train_frac=0.8).select("doc_id", "split")


def _q_stratified_sample(spark, sf_dir):
    # per-stratum deterministic sampling (domain rebalancing): keep
    # all of src0, half of src1, a quarter of src2, 10% of the rest —
    # same md5 bucket as hash_split with a per-stratum threshold;
    # narrow codegen'd filter, exactly replayable in DuckDB
    from vision_parse_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, "doc_id", "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_fraction=0.1,
    ).select("doc_id", "source")


def _q_resample_mixture(spark, sf_dir):
    """Training-mixture resampling: downsample to 50/25/25 across
    three sources at the largest reachable total (no upsampling):
    T = min_s count_s/w_s.  One control-plane per-stratum count +
    a narrow md5-bucket filter; no shuffle, no UDF.  Weights are
    exact binary fractions so the fraction arithmetic replays
    bit-identically in the oracle."""
    from vision_parse_spark.operators.sampling import resample_mixture

    return resample_mixture(
        _t(spark, sf_dir, "documents"), "source",
        {"src0": 0.5, "src1": 0.25, "src2": 0.25})


def _q_minhash_signature(spark, sf_dir):
    # DuckDB-checkable MinHash: the first 4 md5-hashed affine
    # permutations of the signature the LSH operators compute
    from vision_parse_spark.operators.dedup import with_minhash

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_minhash(d, num_perm=4).select(
        "doc_id", *[F.col("minhash")[k].alias(f"perm{k}_min")
                    for k in range(4)])


def _q_simhash(spark, sf_dir):
    # 64-bit SimHash (Arrow-vectorized pandas UDF, unique-token md5
    # hashing per batch): md5 hex halves -> two 32-bit token-hash
    # streams -> per-bit +/-1 majority -> two packed 32-bit halves
    # (ANSI-BIGINT-safe in both engines), replayed by DuckDB.  Also
    # answers the historical ``simhash64_portable`` name.
    from vision_parse_spark.operators.dedup import simhash64_cols
    from vision_parse_spark.session import spread

    return (
        spread(_t(spark, sf_dir, "documents"))
        .select("doc_id", simhash64_cols(F.col("text")).alias("_s"))
        .select("doc_id", "_s.simhash_lo", "_s.simhash_hi")
    )


def _q_simhash_pairs(spark, sf_dir):
    # SimHash near-dup PAIRS: 4x16-bit chunk bucketing (pigeonhole
    # guarantees hamming<=3 pairs share a chunk), popcount verify.
    # Fully oracled since round 3: the unified md5 construction lets
    # DuckDB replay signature -> chunk explode -> bucket self-join ->
    # xor/bit_count hamming exactly.
    from vision_parse_spark.operators.dedup import simhash_near_dups

    d = _t(spark, sf_dir, "documents")
    return simhash_near_dups(d, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _q_simhash16(spark, sf_dir):
    # 16-bit SimHash as one Catalyst expression (md5 token hashes):
    # per-bit +/-1 majority vote, packed to an int — the construction
    # of the 64-bit ``simhash`` kernel, written in SQL functions only
    from vision_parse_spark.session import spread
    P = 4294967311
    d = spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = d.withColumn(
        "_h",
        F.expr(
            "transform(filter(split(lower(trim(text)), '\\\\s+'),"
            " x -> x != ''),"
            f" s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"
            f" % {P})"
        ),
    )
    packed = " + ".join(
        f"(CASE WHEN aggregate(transform(_h, x -> CASE WHEN ((x >> {k}) & 1) = 1"
        f" THEN 1 ELSE -1 END), 0, (a, v) -> a + v) > 0 THEN {1 << k} ELSE 0 END)"
        for k in range(16)
    )
    return toks.select(
        "doc_id", F.expr(packed).cast("long").alias("simhash16")
    )


def _q_cosine_topk(spark, sf_dir):
    from vision_parse_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.filter(F.col("vec_id") < 8), k=5)


def _q_ann_lsh(spark, sf_dir):
    # hyperplane-LSH ANN; the planes are seeded literals, so the
    # DuckDB oracle embeds the SAME literal arrays (list_dot_product)
    # and replays bucket assignment + bucket join + rank exactly
    from vision_parse_spark.operators.similarity import ann_topk_lsh

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    return ann_topk_lsh(e, e.filter(F.col("vec_id") < 8), dim=dim, k=5,
                        n_planes=4)


def _q_ann_ivf(spark, sf_dir):
    # IVF cell-restricted ANN with a data-seeded quantizer: the
    # centroids are the embeddings of vec_id < 8 (cell = vec_id), so
    # cosine assignment, probing and rank replay exactly in DuckDB
    import numpy as np

    from vision_parse_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < 8)
    cents = np.array([r.embedding for r in
                      seeds.orderBy("vec_id").select("embedding").collect()],
                     dtype=np.float32)
    return ivf_topk(e, seeds, cents, k=5, nprobe=3)


def _q_embedding_near_dups(spark, sf_dir):
    # hash-compares the PAIR SET (membership decided on the unrounded
    # cosine in both engines); a rounded float column in the compare
    # flips on 10^-k boundaries when the two engines' float folds
    # differ by an ulp — seen once at sf0.1
    from vision_parse_spark.operators.similarity import embedding_near_dups

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    return embedding_near_dups(e, dim=dim, threshold=0.3, n_planes=4) \
        .select("id_a", "id_b")


def _q_embedding_dup_clusters(spark, sf_dir):
    # connected components over the EMBEDDING near-dup graph — the
    # image/representation-level analog of dup_clusters (pick one
    # representative per embedding cluster); same pointer-jumping
    # min-label propagation, DuckDB replays via the recursive-CTE
    # transitive closure over the same verified pair set
    from vision_parse_spark.operators.dedup import dup_clusters
    from vision_parse_spark.operators.similarity import embedding_near_dups

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    pairs = embedding_near_dups(e, dim=dim, threshold=0.3, n_planes=4) \
        .select("id_a", "id_b")
    return dup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id")


def _q_kmeans_assign(spark, sf_dir):
    """Distributed KMeans (Lloyd's, 2 update steps, k=8): centroids
    are driver control-plane state re-broadcast per iteration;
    assignment is a tiled Arrow squared-distance argmin (first-min
    tie-break = lowest cluster id); the update exchange carries <= k
    rows per map partition.  Oracle replays the exact iteration
    chain as CTEs."""
    from vision_parse_spark.operators.clustering import kmeans_assign

    return kmeans_assign(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def _q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): KMeans cells confine the
    near-dup candidate pairs (never all-pairs), greedy lowest-id
    survivor rule as one anti-join — no iterative CC."""
    from vision_parse_spark.operators.clustering import semdedup

    return semdedup(_t(spark, sf_dir, "embeddings"), k=8, iters=2,
                    threshold=0.3)


def _q_explode_pages(spark, sf_dir):
    # S2 page enumeration (parser.py:166-191) for multi-page payloads:
    # posexplode over form-feed split, row-per-page
    from vision_parse_spark.operators.pages import explode_pages

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return explode_pages(d).select("doc_id", "page_idx", "page_text")


def _q_doc_assembly(spark, sf_dir):
    # T13 benchmark join (scoring.py:47-48): ordered per-document
    # markdown assembly -- deterministic via sorted struct collect
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(doc_id, text))), x -> x.text), '\n')"
        ).alias("doc"),
        F.count(F.lit(1)).alias("n_parts"),
    )


def _q_corpus_rollup(spark, sf_dir):
    """Hierarchical corpus profile: doc counts + char volume at
    (lang, source), per-lang subtotal and grand-total levels in ONE
    pass — Spark's native ROLLUP (partial aggregation re-used across
    grouping sets, no per-level re-scan); grouping_id disambiguates
    real NULL keys from subtotal rows."""
    d = _t(spark, sf_dir, "documents")
    return (d.rollup("lang", "source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_chars").alias("total_chars"),
                  F.grouping_id().alias("gid")))


def _q_asof_attribution(spark, sf_dir):
    """As-of join (attribution): every purchase matched to the
    latest same-user click at or before it.  Union + window idiom —
    one shuffle, O(n log n) per key, no range-join pair explosion;
    (ts, side, id) window order makes duplicate-timestamp matches
    deterministic."""
    from vision_parse_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = (e.filter(F.col("event_type") == "purchase")
                  .select("event_id", "ts", "user_id", "value"))
    clicks = (e.filter(F.col("event_type") == "click")
               .select("event_id", "ts", "user_id", "value"))
    out = asof_join(purchases, clicks, on="user_id", ts_col="ts",
                    id_col="event_id", right_value_cols=["value"])
    return out.select("event_id", "user_id", "value",
                      "asof_event_id", "asof_value", "asof_lag_us")


def _q_event_quantiles(spark, sf_dir):
    # exact distinct + exact percentiles per group (the large-scale
    # profiling aggregates; approx variants exist but are engine-
    # specific, so the oracled query uses the exact forms)
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("median_value"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _q_hll_vocab(spark, sf_dir):
    """Per-language vocabulary size via PORTABLE HyperLogLog (p=12,
    md5-derived registers) next to the exact countDistinct twin.
    The sketch is the 100 TB path — its only exchange carries <= m
    register rows per language (vs count(distinct)'s full shuffle of
    every distinct token); the exact column is the small-scale
    validation twin the oracle checks both of."""
    from vision_parse_spark.functions.text_stats import ws_tokens
    from vision_parse_spark.operators.sketches import hll_distinct
    from vision_parse_spark.session import spread

    d = spread(_t(spark, sf_dir, "documents"))
    toks = d.select("lang", F.explode(ws_tokens("text")).alias("tok"))
    est = hll_distinct(toks, "tok", ["lang"], p=12)
    exact = toks.groupBy("lang").agg(
        F.countDistinct("tok").alias("exact_cnt"))
    return est.join(exact, "lang")


def _q_cms_heavy(spark, sf_dir):
    """Count-Min (d=4, w=1024) point-frequency estimates for the 20
    most frequent corpus tokens, next to their exact counts.  The
    counter build's exchange is bounded by d*w rows per partition
    (map-side combine); the probe lookup broadcasts the 4 KiB-row
    counter table, so the corpus never shuffles for the probe."""
    from vision_parse_spark.functions.text_stats import ws_tokens
    from vision_parse_spark.operators.sketches import cms_counts
    from vision_parse_spark.session import spread

    d = spread(_t(spark, sf_dir, "documents"))
    toks = d.select(F.explode(ws_tokens("text")).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = (exact.orderBy(F.desc("exact_cnt"), F.asc("tok"))
                   .limit(20))
    est = cms_counts(toks, "tok", probes.select("tok"), "tok")
    return est.join(F.broadcast(probes), "tok")


def _q_event_funnel(spark, sf_dir):
    """signup -> click -> purchase conversion funnel per user: stage
    k anchors at the earliest qualifying event strictly after stage
    k-1.  One shuffle total — the k conditional-min windows share
    one partitionBy(user) Exchange and the final per-user collapse
    reuses it."""
    from vision_parse_spark.operators.temporal import funnel

    e = _t(spark, sf_dir, "events")
    return funnel(e, ["signup", "click", "purchase"])


def _q_event_pagerank(spark, sf_dir):
    """PageRank over the event-type transition graph (Page et al.
    1999): ONE corpus-sized pass (per-user lag window -> bounded-key
    edge counts with map-side combine), then 5 fixed synchronous
    rank iterations over the bounded edge relation.  Every float
    reduction is an ordered left fold over a sorted list, so the
    DuckDB CTE replay (generated by the same module) is
    bit-identical — no merge-order drift."""
    from vision_parse_spark.operators.graph import transition_pagerank

    e = _t(spark, sf_dir, "events")
    return transition_pagerank(e, damping=0.85, n_iter=5)


def _q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix: cohort = ISO week of each
    user's first event; one row per (cohort_week, week_offset) with
    the active-user count.  Two bounded shuffles (per-user collapse
    with a calendar-bounded collect_set, then the weeks^2-keyed
    count agg); all-integer output — hash-exact."""
    from vision_parse_spark.operators.graph import cohort_retention

    e = _t(spark, sf_dir, "events")
    return cohort_retention(e)


def _q_nfc_normalize(spark, sf_dir):
    """Unicode NFC canonicalization (UAX #15) — the pre-dedup text
    canonicalization step.  Input is the document prefix with a
    deterministic decomposed suffix ('Cafe' + U+0301 combining
    acute, built in-engine from base64 on BOTH sides) so the
    composition is exercised on every row; narrow Arrow-batched
    pandas map, zero shuffle.  Oracle: DuckDB nfc_normalize."""
    from vision_parse_spark.functions.normalize import normalize_text

    d = _t(spark, sf_dir, "documents")
    acc = F.expr("decode(unbase64('zIE='), 'UTF-8')")  # U+0301
    d = d.select(
        "doc_id",
        F.concat(F.substring("text", 1, 30), F.lit("Cafe"), acc)
        .alias("raw"))
    out = normalize_text(d, "raw", "NFC", out_col="text_nfc")
    return out.select(
        "doc_id", "text_nfc",
        (F.col("text_nfc") != F.col("raw")).cast("int")
        .alias("changed"),
        (F.length("raw") - F.length("text_nfc")).cast("long")
        .alias("delta_chars"))


def _q_bpe_encode(spark, sf_dir):
    """Corpus encoding with the learned BPE vocabulary: learn the
    12-merge table (control-plane loop, 12 rows collected), then
    segment every document with one narrow codegen'd nested-fold
    Project — zero shuffle on the encode pass.  Pieces are
    string-rendered (the postings precedent: arrays don't hash
    cross-engine).  Oracle: the bpe_merges CTE chain's final w12
    vocabulary joined back onto per-doc word streams and flattened
    in word order."""
    from vision_parse_spark.operators.bpe import bpe_apply, bpe_merges

    d = _t(spark, sf_dir, "documents")
    m = sorted(bpe_merges(d, n_merges=12).collect(),
               key=lambda r: r.rank)
    merges = [(r.left_sym, r.right_sym) for r in m]
    enc = bpe_apply(d.select("doc_id", "text"), merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_pieces"),
        F.array_join("bpe_tokens", " ").alias("pieces_str"))


def _q_vocab_growth(spark, sf_dir):
    """Cumulative vocabulary growth by source (Heaps-law profile):
    each type collapses to its first group via ONE map-side-combined
    min(group) agg — the only corpus-sized shuffle — then bounded-key
    counts and a |groups|-row running total.  All-integer, hash-exact.
    n=3 (trigram types): the driver corpus's 31-token unigram
    vocabulary saturates inside the first source, so the unigram
    profile is a degenerate 1-row curve; trigram types grow across
    all 20 sources and exercise the full operator."""
    from vision_parse_spark.operators.corpus_stats import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"), n=3)


def _q_dialog_integrity(spark, sf_dir):
    """Transcript well-formedness QA: starts-with-user + strict role
    alternation per conversation.  Roles are derived
    deterministically from the documents adapter (turn parity, with
    violations injected where the portable md5 hash of the text is
    ≡ 0 mod 7 — same derivation replayed by the oracle), so the
    checked sequences contain real violations at every SF.  ONE
    partitionBy(conv) shuffle: the lag window and the per-conv
    collapse share the partitioning (the funnel pattern)."""
    from pyspark.sql import Window
    from vision_parse_spark.operators.temporal import dialog_integrity

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    h = F.expr("conv(substring(md5(text), 1, 15), 16, 10)") \
         .cast("long")
    t = (d.withColumn("turn_idx",
                      (F.row_number().over(w) - 1).cast("int"))
          .withColumn("_flip", (h % 7 == 0).cast("int"))
          .select(F.col("source").alias("conv_id"), "turn_idx",
                  F.when(((F.col("turn_idx") + F.col("_flip")) % 2)
                         == 0, "user")
                   .otherwise("assistant").alias("role")))
    return dialog_integrity(t)


def _q_leak_safe_split(spark, sf_dir):
    """Near-dup-leakage-safe train/test split: connected components
    over the verified MinHash near-dup pair graph assign every
    document a cluster representative (min reachable id); the md5
    split bucket hashes the REPRESENTATIVE, so an entire near-dup
    cluster lands in one split and the eval set can't contain soft
    copies of training rows.  Singletons hash on their own key —
    identical to hash_split.  Oracle: the recursive-CTE transitive
    closure (dup_clusters replay) left-joined back, same bucket."""
    from vision_parse_spark.operators.dedup import minhash_lsh_pairs
    from vision_parse_spark.operators.sampling import leak_safe_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(d)
    return (leak_safe_split(d, pairs, train_frac=0.8)
            .select("doc_id", "rep_id", "split"))


def _q_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility audit: learn the 12-merge BPE table
    (control-plane loop), encode with the narrow fold Project, then
    collapse per source — pieces/word and chars/piece per shard, the
    standard pre-commit vocabulary check.  All counts exact integer
    sums; ratios are single double divisions, bit-identical in the
    DuckDB replay (w12 vocabulary joined onto per-doc word streams)."""
    from vision_parse_spark.operators.bpe import bpe_fertility, bpe_merges

    d = _t(spark, sf_dir, "documents")
    m = sorted(bpe_merges(d, n_merges=12).collect(),
               key=lambda r: r.rank)
    merges = [(r.left_sym, r.right_sym) for r in m]
    return bpe_fertility(d.select("source", "text"), merges)


def _q_flesch_kincaid(spark, sf_dir):
    """Flesch–Kincaid grade per document — readability signal for
    the quality-filter stack; narrow regex-only Project (zero
    shuffle, zero Python), exact integer counts + one fixed-order
    double expression, rounded to 4 decimals."""
    from vision_parse_spark.operators.selection import flesch_kincaid

    return flesch_kincaid(_t(spark, sf_dir, "documents"))


def _q_script_profile(spark, sf_dir):
    """Per-doc writing-system profile over a deterministically
    multi-scripted corpus: docs get a Cyrillic / CJK / Arabic / none
    suffix by md5(text) % 4 (built in-engine from base64 on BOTH
    sides — the nfc_normalize precedent), so every script counter
    and the dominant-script tiebreak do real work at every SF.
    Narrow regexp Project, all-integer counts — hash-exact."""
    from vision_parse_spark.operators.selection import script_profile

    d = _t(spark, sf_dir, "documents")
    h = F.expr("conv(substring(md5(text), 1, 15), 16, 10)") \
         .cast("long") % 4
    suffix = (
        F.when(h == 0, F.expr("decode(unbase64("
                              "'0J/RgNC40LLQtdGCINC80LjRgA=='), "
                              "'UTF-8')"))          # Привет мир
        .when(h == 1, F.expr("decode(unbase64('5L2g5aW95LiW55WM'),"
                             " 'UTF-8')"))          # 你好世界
        .when(h == 2, F.expr("decode(unbase64('2YXYsdit2KjYpw=='),"
                             " 'UTF-8')"))          # مرحبا
        .otherwise(F.lit("")))
    aug = d.select("doc_id",
                   F.concat(F.substring("text", 1, 60), F.lit(" "),
                            suffix).alias("text"))
    return script_profile(aug)


def _q_sentence_dedup(spark, sf_dir):
    """Intra-document sentence dedup: the corpus is augmented with a
    guaranteed self-repetition (a 50-char prefix sentence appended
    TWICE, same construction on both sides) so the keep-first filter
    does real work on every row.  Entirely narrow HOF Project —
    zero shuffle, zero Python."""
    from vision_parse_spark.operators.spans import dedup_sentences

    d = _t(spark, sf_dir, "documents")
    frag = F.substring("text", 1, 50)
    aug = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(". "), frag, F.lit(". "),
                 frag, F.lit("!")).alias("text"))
    return dedup_sentences(aug)


def _q_exact_substring_hits(spark, sf_dir):
    """Exact-substring decontamination (the GPT-3 appendix-C rule):
    eval fragments are 40-char slices of the first five documents;
    the fragment set BROADCASTS and the corpus side is a narrow
    codegen'd contains scan — no corpus shuffle.  Self-hits are
    guaranteed; the driver corpus's duplicate texts add genuine
    cross-document contamination rows."""
    from vision_parse_spark.operators.decontaminate import (
        exact_substring_hits,
    )

    d = _t(spark, sf_dir, "documents")
    frags = (d.filter(F.col("doc_id") < 5)
              .select(F.col("doc_id").alias("frag_id"),
                      F.substring("text", 20, 40).alias("fragment")))
    return exact_substring_hits(d, frags)


def _q_ivf_adc_topk(spark, sf_dir):
    """IVF-ADC retrieval (the FAISS IVFPQ shape, non-residual
    simplification): k-means cells prune candidates (nprobe=3 of 8),
    PQ codes + per-query LUTs score them — the 100 TB double-cut
    (prune, then 4-lookup distances).  Oracle composes the two green
    replay families: the kmeans cell chain + the per-subspace PQ
    chains, probe ranking and ADC sums as strict folds."""
    from vision_parse_spark.operators.pq import ivf_adc_topk, pq_fit

    e = _t(spark, sf_dir, "embeddings")
    books = pq_fit(e, **_PQ_PARAMS)
    q = e.filter(F.col("vec_id") < 4)
    return (ivf_adc_topk(e, q, books, n_centroids=8, nprobe=3,
                         cell_iters=2, k=5)
            .select("query_id", "neighbor_id", "adc_dist", "rank"))


def _q_source_divergence(spark, sf_dir):
    """Domain-shift audit: KL(source || corpus) over the unigram
    distribution coarsened to the corpus top-20 tokens + an 'other'
    bucket (bounded support BY DESIGN — the scale-honest shape).
    Exact integer counts; each source's KL is one ordered fold over
    its token-sorted term list (pagerank precedent), ln under the
    bm25 ulp analysis."""
    from vision_parse_spark.operators.corpus_stats import (
        source_divergence,
    )

    return source_divergence(_t(spark, sf_dir, "documents"), top_k=20)


def _q_lexical_diversity(spark, sf_dir):
    """Type-token ratio + hapax share per document — the lexical
    diversity signal next to quality/Gopher (template spam: low TTR;
    gibberish: hapax near 1).  Entirely narrow HOF Project; counts
    exact, ratios single double divisions."""
    from vision_parse_spark.functions.text_stats import (
        lexical_diversity,
    )

    return lexical_diversity(_t(spark, sf_dir, "documents"))


def _q_burst_detection(spark, sf_dir):
    """Event-rate burst QA: hourly buckets z-scored against the
    stream's own mean/std.  Fully exact cross-engine — per-bucket
    counts and the (Σn, Σn², K) stats are integers; mean/var/z are
    one fixed-order double expression (no float fold).  ONE
    bounded-key shuffle + a broadcast 1-row stats cross join."""
    from vision_parse_spark.operators.temporal import burst_detection

    return burst_detection(_t(spark, sf_dir, "events"))


def _q_keyword_extract(spark, sf_dir):
    """Top-3 TF-IDF keywords per document: ONE corpus shuffle builds
    (doc, term, tf); document frequency aggregates on the bounded
    term key and broadcasts back; per-doc top-k is a keyed window
    ranked on (rounded score DESC, term) — the determinism rule, ln
    under the bm25 ulp precedent."""
    from vision_parse_spark.operators.corpus_stats import keyword_extract

    return keyword_extract(_t(spark, sf_dir, "documents"), k=3)


def _q_scalar_quantize(spark, sf_dir):
    """Int8 embedding compression: per-dim corpus min/max (ONE
    bounded-key shuffle, 64 rows collected), then a narrow codegen'd
    Project quantizes every dimension and reports the max
    reconstruction error.  FULLY exact cross-engine — min/max and
    per-vector max are order-invariant, everything else is
    element-wise; no fold, no ulp caveat."""
    from vision_parse_spark.operators.pq import scalar_quantize

    return scalar_quantize(_t(spark, sf_dir, "embeddings"))


_PQ_PARAMS = dict(m=4, k=8, iters=2)   # dim 64 -> 4 subspaces of 16


def _q_pq_codes(spark, sf_dir):
    """Product-quantization encoding (Jégou et al. 2011): 4
    per-subspace Lloyd codebooks (control-plane training), then ONE
    narrow Arrow argmin pass compresses every dim-64 vector to 4
    codes (512 bytes -> 4).  Codes string-rendered (the postings
    precedent).  Oracle: per-subspace kmeans CTE replay + the same
    strict-fold distance argmin."""
    from vision_parse_spark.operators.pq import pq_encode, pq_fit

    e = _t(spark, sf_dir, "embeddings")
    books = pq_fit(e, **_PQ_PARAMS)
    return (pq_encode(e, books)
            .select("vec_id",
                    F.array_join(
                        F.expr("transform(codes, x ->"
                               " cast(x as string))"), ",")
                    .alias("codes_str")))


def _q_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k: per-query m x k lookup tables
    broadcast, corpus scanned as 4-byte codes (m lookups + m-1 adds
    per candidate — the 100 TB memory-side retrieval shape).  Every
    decisive distance is a strict left fold on both engines; ranking
    = (rounded dist, neighbor id)."""
    from vision_parse_spark.operators.pq import pq_adc_topk, pq_fit

    e = _t(spark, sf_dir, "embeddings")
    books = pq_fit(e, **_PQ_PARAMS)
    q = e.filter(F.col("vec_id") < 4)
    return (pq_adc_topk(e, q, books, k=5)
            .select("query_id", "neighbor_id", "adc_dist", "rank"))


_LQ_PROBS = [0.25, 0.5, 0.75, 0.95, 0.99]


def _q_length_quantiles(spark, sf_dir):
    """Histogram quantile sketch over document lengths — the
    distribution member of the sketch family.  ONE bounded-key
    count agg (<= 64 rows per partition after map-side combine)
    replaces percentile()'s global sort; the exact percentile twin
    rides along per row so sketch error is visible (and bounded by
    one bin width).  Sketch arithmetic is in-engine double casts
    over exact integers — bit-identical to the generated DuckDB
    replay; only the exact twin needs round(4) (engine-specific
    interpolation, the event_quantiles precedent)."""
    from vision_parse_spark.operators.sketches import hist_quantiles
    from vision_parse_spark.session import spread

    d = spread(_t(spark, sf_dir, "documents"))
    lens = d.select(F.length("text").alias("len"))
    est = hist_quantiles(lens, "len", _LQ_PROBS, n_bins=64)
    arr = ", ".join(f"{p}D" for p in _LQ_PROBS)
    exact = d.agg(F.expr(
        f"percentile(length(text), array({arr}))").alias("q"))
    prob_map = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(_LQ_PROBS)],
        "i int, prob double")
    twin = (exact.select(F.posexplode("q").alias("i", "ex"))
                 .join(F.broadcast(prob_map), "i")
                 .select("prob", F.round("ex", 4).alias("exact")))
    return est.join(twin, "prob")


def _q_conv_stats(spark, sf_dir):
    # north_rule skew handling: salted two-phase per-conv aggregation;
    # oracle is the plain GROUP BY (results must be identical)
    from vision_parse_spark.operators.aggregate import conv_stats_salted

    d = _t(spark, sf_dir, "documents")
    return conv_stats_salted(d, group_col="source", length_col="text")


def _q_doc_fingerprint(spark, sf_dir):
    # Rabin-Karp rolling-hash fingerprint over the normalized document
    # (lowercase, whitespace-collapsed): fold (acc*31 + codepoint) mod
    # the Mersenne prime 2^31-1.  Pure Catalyst (split/transform/
    # aggregate), replayed exactly by DuckDB list_reduce — the
    # portable contract twin of functions/text_stats.doc_fingerprint
    # (pandas hashing, the throughput path).
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    fp = F.expr(
        "aggregate(transform(split(_norm, ''), c -> ascii(c)), 0L,"
        " (acc, c) -> (acc * 31 + c) % 2147483647)"
    )
    return (
        d.withColumn("_norm", norm)
        .select(
            "doc_id",
            F.when(F.length("_norm") == 0, F.lit(0).cast("long"))
            .otherwise(fp).alias("fingerprint"),
        )
    )


def _q_chunk_documents(spark, sf_dir):
    # training-data windowing: token-bounded chunks with overlap,
    # Catalyst sequence/slice/posexplode (no UDF, narrow Generate)
    from vision_parse_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, max_tokens=64, overlap=8)


def _q_pricing_summary(spark, sf_dir):
    # TPC-H Q1 shape: partial-agg friendly, tests shuffle/agg physics
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape — the 6-way star join (lineitem x orders facts,
    customer/supplier/nation/region dims) with the local-supplier
    constraint (customer and supplier share the nation).  Scale
    shape: the only fact-fact join (lineitem x orders) shuffles on
    the order key; every dimension BROADCASTS; Catalyst prunes
    columns to the join/agg set at the scans.  Revenue rounds at 2
    (the pricing_summary float-sum precedent)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
           .filter(F.col("c_nationkey") == F.col("s_nationkey"))
           .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (j.groupBy("r_name", "n_name")
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                * (1 - F.col("l_discount"))), 2)
                   .alias("revenue"),
                  F.count(F.lit(1)).alias("n_items")))


def _q_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape — promotion revenue share: lineitem joins the
    BROADCAST part dimension, one conditional + one total sum in a
    single-pass aggregate; the share is one double division of two
    2-rounded sums (deterministic given the pricing_summary
    precedent)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    agg = j.agg(
        F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                      .otherwise(F.lit(0.0))), 2).alias("promo_rev"),
        F.round(F.sum(rev), 2).alias("total_rev"))
    return agg.select(
        "promo_rev", "total_rev",
        F.round(F.col("promo_rev") / F.col("total_rev") * 100, 4)
         .alias("promo_pct"))


def _q_top_customers(spark, sf_dir):
    # broadcast join: small dim (customer) broadcast to orders scan
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return (
        joined.groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 3)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is the driver-verification window (round-6 verdict #1):
    # the external CORRECTNESS check takes the FIRST 50 entries in
    # insertion order, and rounds 4-6 kept appending, so 42 queries
    # (doc_assembly..top_customers) had never received a driver-side
    # green row.  Round 7 rotates them to the FRONT, followed by 8
    # anchors covering this round's heaviest-rewritten paths, then
    # the long-stable remainder.  Pure reordering — names, builders
    # and oracles are untouched.
    return {
        # --- never-driver-verified before round 7 (42) -------------
        "doc_assembly": _q_doc_assembly,
        "cosine_topk": _q_cosine_topk,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "embedding_near_dups": _q_embedding_near_dups,
        "embedding_dup_clusters": _q_embedding_dup_clusters,
        "kmeans_assign": _q_kmeans_assign,
        "semdedup": _q_semdedup,
        "corpus_rollup": _q_corpus_rollup,
        "asof_attribution": _q_asof_attribution,
        "event_quantiles": _q_event_quantiles,
        "hll_vocab": _q_hll_vocab,
        "cms_heavy": _q_cms_heavy,
        "event_funnel": _q_event_funnel,
        "event_pagerank": _q_event_pagerank,
        "cohort_retention": _q_cohort_retention,
        "length_quantiles": _q_length_quantiles,
        "bpe_encode": _q_bpe_encode,
        "vocab_growth": _q_vocab_growth,
        "dialog_integrity": _q_dialog_integrity,
        "leak_safe_split": _q_leak_safe_split,
        "bpe_fertility": _q_bpe_fertility,
        "flesch_kincaid": _q_flesch_kincaid,
        "script_profile": _q_script_profile,
        "sentence_dedup": _q_sentence_dedup,
        "exact_substring_hits": _q_exact_substring_hits,
        "pq_codes": _q_pq_codes,
        "pq_adc_topk": _q_pq_adc_topk,
        "scalar_quantize": _q_scalar_quantize,
        "keyword_extract": _q_keyword_extract,
        "burst_detection": _q_burst_detection,
        "lexical_diversity": _q_lexical_diversity,
        "source_divergence": _q_source_divergence,
        "ivf_adc_topk": _q_ivf_adc_topk,
        "nfc_normalize": _q_nfc_normalize,
        "conv_stats": _q_conv_stats,
        "doc_fingerprint": _q_doc_fingerprint,
        "chunk_documents": _q_chunk_documents,
        "pricing_summary": _q_pricing_summary,
        "regional_revenue": _q_regional_revenue,
        "promo_revenue_share": _q_promo_revenue_share,
        "top_customers": _q_top_customers,
        # --- anchors: this round's heaviest-rewritten paths (8) ----
        "extract_markdown": _q_extract_markdown,
        "rouge2": _q_rouge2,
        "winnow_fps": _q_winnow_fps,
        "minhash_dedup": _q_minhash_dedup,
        "dup_clusters": _q_dup_clusters,
        "curate": _q_curate,
        "curate_full": _q_curate_full,
        "quality_clf": _q_quality_clf,
        # --- long-stable, driver-green in rounds 1-6 ---------------
        "extract_stats": _q_extract_stats,
        "fence_strip": _q_fence_strip,
        "empty_rule": _q_empty_rule,
        "fast_path": _q_fast_path,
        "ordered_turns": _q_ordered_turns,
        "sessionize": _q_sessionize,
        "lev_similarity": _q_lev_similarity,
        "bloom_tokens": _q_bloom_tokens,
        "accuracy_agg": _q_accuracy_agg,
        "exact_dedup": _q_exact_dedup,
        "token_count": _q_token_count,
        "quality_score": _q_quality_score,
        "top_quality": _q_top_quality,
        "lang_id": _q_lang_id,
        "ngram_jaccard": _q_ngram_jaccard,
        "top_ngrams": _q_top_ngrams,
        "span_dedup": _q_span_dedup,
        "postings": _q_postings,
        "unigram_logprob": _q_unigram_logprob,
        "ccnet_buckets": _q_ccnet_buckets,
        "bigram_logprob": _q_bigram_logprob,
        "bpe_merges": _q_bpe_merges,
        "bm25": _q_bm25,
        "minhash_incremental": _q_minhash_incremental,
        "minhash_signature": _q_minhash_signature,
        "hash_split": _q_hash_split,
        "stratified_sample": _q_stratified_sample,
        "resample_mixture": _q_resample_mixture,
        "scrub_pii": _q_scrub_pii,
        "repetition_stats": _q_repetition_stats,
        "gopher_signals": _q_gopher_signals,
        "c4_filters": _q_c4_filters,
        "dsir_weights": _q_dsir_weights,
        "line_dedup": _q_line_dedup,
        "decontaminate": _q_decontaminate,
        "contamination_hits": _q_contamination_hits,
        "pack_contexts": _q_pack_contexts,
        "simhash": _q_simhash,
        "simhash_pairs": _q_simhash_pairs,
        "simhash16": _q_simhash16,
        "simhash64_portable": _q_simhash,
        "explode_pages": _q_explode_pages,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles (same aliases, same rounding)
# ---------------------------------------------------------------------------


def _scrub_sql(src: str = "documents") -> str:
    """PII rule chain replayed in DuckDB RE2, generated from the same
    PII_RULES list the Spark operator applies."""
    from vision_parse_spark.functions.scrub import PII_RULES

    expr = "text"
    for pattern, repl in PII_RULES:
        # standard SQL single-quoted literals pass backslashes through
        expr = f"regexp_replace({expr}, '{pattern}', '{repl}', 'g')"
    return f"SELECT doc_id, md5({expr}) AS scrubbed_md5 FROM {src}"


# SQL twin of _quality_scored — produces CTE `q`(doc_id, source,
# quality_e4); shared by the quality_score and top_quality oracles so
# the formula cannot drift between them.
_QUALITY_SQL_CTES = r"""
    s AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tok,
             len(regexp_extract_all(lower(text),
                 '\b(?:the|a|an|and|or|of|to|in|is|it)\b')) AS n_stop,
             length(text) AS n_chars
      FROM documents),
    q AS (
      SELECT doc_id, source,
             CAST(floor((least(n_chars / 200.0, 1.0) * 0.5
                   + least(n_stop * 1.0 / n_tok / 0.2, 1.0) * 0.5)
                   * 10000) AS BIGINT) AS quality_e4
      FROM s WHERE n_tok > 0)
"""


def oracle_sql() -> dict[str, str]:
    # Flagship value oracle: committed golden parquet of per-distinct-
    # text extraction results (markdown is a pure function of the text
    # payload), joined to the runtime documents view on md5(text) and
    # re-keyed with the same per-source window the Spark adapter uses
    # (sources/readers.py:38-41).  Regenerate + review via
    # `python tests/gen_extract_golden.py` (the lift of the reference's
    # golden markdown assertions, tests/test_parser.py:199-202).
    golden_path = os.path.join(_REPO, "tests", "golden",
                               "extract_text_golden.parquet")

    # ann_lsh oracle: the SAME seeded hyperplane literals the Spark
    # operator uses (similarity.py _hyperplanes(dim=64, 4, seed=13)),
    # embedded as list literals; bucket = sum of sign bits.
    from vision_parse_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 4, seed=13)
    def _plane_lit(p):
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"
    bucket_sql = " + ".join(
        f"(CASE WHEN list_dot_product(embedding, {_plane_lit(p)}) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )

    # kmeans oracle: replay the exact Lloyd chain (init = 8 lowest
    # vec_ids in id order; 2 update steps; empty cells keep their
    # centroid; argmin tie-breaks on the lower cluster id) as CTEs.
    # list_distance ordering == the operator's squared-distance
    # ordering (sqrt is strictly monotonic).  Dimensionality comes
    # from the data (len(e.v)), not a literal.
    def _kmeans_ctes(k: int, iters: int,
                     emb_src: str = "embeddings") -> str:
        def assign(t):
            return (
                f"a{t} AS (SELECT vec_id, cid AS cluster FROM ("
                f"SELECT e.vec_id, c.cid, row_number() OVER ("
                f"PARTITION BY e.vec_id ORDER BY "
                f"list_distance(e.v, c.cent), c.cid) AS rn "
                f"FROM emb e CROSS JOIN c{t} c) WHERE rn = 1)")
        ctes = [
            f"emb AS (SELECT vec_id, embedding::DOUBLE[] AS v"
            f" FROM {emb_src})",
            f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1"
            f" AS cid, v AS cent FROM (SELECT vec_id, v FROM emb"
            f" ORDER BY vec_id LIMIT {k}))",
        ]
        for t in range(iters):
            ctes.append(assign(t))
            ctes.append(
                f"u{t} AS (SELECT cluster AS cid, list(m ORDER BY i)"
                f" AS cent FROM (SELECT a.cluster, u.i, avg(e.v[u.i])"
                f" AS m FROM a{t} a JOIN emb e USING (vec_id),"
                f" unnest(range(1, len(e.v) + 1)) AS u(i)"
                f" GROUP BY a.cluster, u.i) GROUP BY cluster)")
            ctes.append(
                f"c{t + 1} AS (SELECT p.cid, coalesce(u.cent, p.cent)"
                f" AS cent FROM c{t} p LEFT JOIN u{t} u USING (cid))")
        ctes.append(assign(iters))
        return ",\n".join(ctes)

    # PQ oracle: per-subspace kmeans replay over SLICED vectors
    # (training assignment = list_distance like _kmeans_ctes; the
    # decisive encode/LUT distances are strict left folds —
    # list_reduce in index order, matching the kernels' cumsum)
    def _pq_ctes(m: int, k: int, iters: int, sub: int) -> str:
        def fold_dist(vec_expr: str, cent_expr: str) -> str:
            d = f"({vec_expr}[i] - {cent_expr}[i])"
            return (f"list_reduce(list_transform(range(1, {sub + 1}),"
                    f" i -> {d} * {d}), (x, y) -> x + y)")

        ctes = []
        for j in range(m):
            a, b = j * sub + 1, (j + 1) * sub
            p = f"s{j}"
            ctes.append(
                f"{p}emb AS (SELECT vec_id,"
                f" (embedding::DOUBLE[])[{a}:{b}] AS v"
                f" FROM embeddings)")
            ctes.append(
                f"{p}c0 AS (SELECT row_number() OVER (ORDER BY"
                f" vec_id) - 1 AS cid, v AS cent FROM (SELECT"
                f" vec_id, v FROM {p}emb ORDER BY vec_id LIMIT {k}))")
            for t in range(iters):
                ctes.append(
                    f"{p}a{t} AS (SELECT vec_id, cid AS cluster FROM ("
                    f"SELECT e.vec_id, c.cid, row_number() OVER ("
                    f"PARTITION BY e.vec_id ORDER BY "
                    f"list_distance(e.v, c.cent), c.cid) AS rn "
                    f"FROM {p}emb e CROSS JOIN {p}c{t} c) WHERE rn = 1)")
                ctes.append(
                    f"{p}u{t} AS (SELECT cluster AS cid, list(mn ORDER"
                    f" BY i) AS cent FROM (SELECT a.cluster, u.i,"
                    f" avg(e.v[u.i]) AS mn FROM {p}a{t} a JOIN {p}emb e"
                    f" USING (vec_id), unnest(range(1, len(e.v) + 1))"
                    f" AS u(i) GROUP BY a.cluster, u.i)"
                    f" GROUP BY cluster)")
                ctes.append(
                    f"{p}c{t + 1} AS (SELECT pc.cid, coalesce(u.cent,"
                    f" pc.cent) AS cent FROM {p}c{t} pc LEFT JOIN"
                    f" {p}u{t} u USING (cid))")
            ctes.append(
                f"{p}enc AS (SELECT vec_id, cid AS code FROM ("
                f"SELECT e.vec_id, c.cid, row_number() OVER ("
                f"PARTITION BY e.vec_id ORDER BY "
                f"{fold_dist('e.v', 'c.cent')}, c.cid) AS rn "
                f"FROM {p}emb e CROSS JOIN {p}c{iters} c) WHERE rn = 1)")
        ctes.append(
            "enc AS (SELECT s0enc.vec_id, "
            + ", ".join(f"s{j}enc.code AS c{j}" for j in range(m))
            + " FROM s0enc "
            + " ".join(f"JOIN s{j}enc ON s{j}enc.vec_id ="
                       f" s0enc.vec_id" for j in range(1, m)) + ")")
        return ",\n".join(ctes)

    _pq_m, _pq_k, _pq_it, _pq_sub = 4, 8, 2, 16
    pq_codes_sql = (
        "WITH " + _pq_ctes(_pq_m, _pq_k, _pq_it, _pq_sub)
        + "\nSELECT vec_id, "
        + " || ',' || ".join(f"c{j}::VARCHAR" for j in range(_pq_m))
        + " AS codes_str FROM enc")

    def _pq_fold(vec_expr: str, cent_expr: str) -> str:
        d = f"({vec_expr}[i] - {cent_expr}[i])"
        return (f"list_reduce(list_transform(range(1, {_pq_sub + 1}),"
                f" i -> {d} * {d}), (x, y) -> x + y)")

    _pq_luts = ",\n".join(
        f"lut{j} AS (SELECT q.vec_id AS query_id, c.cid, "
        f"{_pq_fold('q.v', 'c.cent')} AS d FROM (SELECT vec_id, v"
        f" FROM s{j}emb WHERE vec_id < 4) q CROSS JOIN"
        f" s{j}c{_pq_it} c)" for j in range(_pq_m))
    pq_adc_sql = (
        "WITH " + _pq_ctes(_pq_m, _pq_k, _pq_it, _pq_sub) + ",\n"
        + _pq_luts + """,
        adc AS (
          SELECT l0.query_id, e.vec_id AS neighbor_id,
                 round(l0.d + l1.d + l2.d + l3.d, 6) AS adc_dist
          FROM enc e
          JOIN lut0 l0 ON l0.cid = e.c0
          JOIN lut1 l1 ON l1.cid = e.c1 AND l1.query_id = l0.query_id
          JOIN lut2 l2 ON l2.cid = e.c2 AND l2.query_id = l0.query_id
          JOIN lut3 l3 ON l3.cid = e.c3 AND l3.query_id = l0.query_id
          WHERE e.vec_id != l0.query_id)
        SELECT query_id, neighbor_id, adc_dist, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adc_dist, neighbor_id) AS rank
          FROM adc)
        WHERE rank <= 5""")

    _probe_fold = ("list_reduce(list_transform(range(1, 65), i -> "
                   "(q.v[i] - c.cent[i]) * (q.v[i] - c.cent[i])), "
                   "(x, y) -> x + y)")
    ivf_adc_sql = (
        "WITH " + _kmeans_ctes(8, 2) + ",\n"
        + _pq_ctes(_pq_m, _pq_k, _pq_it, _pq_sub) + ",\n"
        + _pq_luts + f""",
        probe AS (
          SELECT query_id, cell FROM (
            SELECT q.vec_id AS query_id, c.cid AS cell,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY {_probe_fold}, c.cid) AS rn
            FROM (SELECT vec_id, v FROM emb WHERE vec_id < 4) q
            CROSS JOIN c2 c)
          WHERE rn <= 3),
        adc AS (
          SELECT pb.query_id, e.vec_id AS neighbor_id,
                 round(l0.d + l1.d + l2.d + l3.d, 6) AS adc_dist
          FROM enc e
          JOIN a2 ON a2.vec_id = e.vec_id
          JOIN probe pb ON pb.cell = a2.cluster
          JOIN lut0 l0 ON l0.cid = e.c0
                      AND l0.query_id = pb.query_id
          JOIN lut1 l1 ON l1.cid = e.c1
                      AND l1.query_id = pb.query_id
          JOIN lut2 l2 ON l2.cid = e.c2
                      AND l2.query_id = pb.query_id
          JOIN lut3 l3 ON l3.cid = e.c3
                      AND l3.query_id = pb.query_id
          WHERE e.vec_id != pb.query_id)
        SELECT query_id, neighbor_id, adc_dist, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adc_dist, neighbor_id) AS rank
          FROM adc)
        WHERE rank <= 5""")

    # BPE oracle: replay every merge round as CTEs — weighted pair
    # census with the (freq DESC, pair lex) tie-break, then the
    # greedy left-to-right apply via gaps-and-islands parity (a run
    # of consecutive (a,b) matches merges its 1st/3rd/... — exactly
    # the Spark fold's semantics, see operators/bpe.py docstring).
    def _bpe_ctes(n: int) -> str:
        ctes = [r"""w0 AS MATERIALIZED (
          SELECT word, count(*) AS cnt,
                 list_transform(range(length(word)),
                   i -> substring(word, i + 1, 1)) AS syms
          FROM (SELECT unnest(list_filter(string_split_regex(
                  lower(trim(text)), '\s+'), x -> x != '')) AS word
                FROM documents)
          GROUP BY word)"""]
        for t in range(n):
            ctes.append(f"""p{t} AS MATERIALIZED (
              SELECT l, r, CAST(sum(cnt) AS BIGINT) AS freq FROM (
                SELECT cnt, syms[j + 1] AS l, syms[j + 2] AS r
                FROM w{t}, unnest(range(len(syms) - 1)) AS u(j)
                WHERE len(syms) >= 2)
              GROUP BY l, r HAVING sum(cnt) >= 2)""")
            ctes.append(f"m{t} AS MATERIALIZED (SELECT l, r, freq FROM p{t} "
                        f"ORDER BY freq DESC, l, r LIMIT 1)")
            ctes.append(f"""e{t} AS MATERIALIZED (
              SELECT word, cnt, u.j AS pos, syms[u.j + 1] AS sym,
                     CASE WHEN u.j + 2 <= len(syms)
                          THEN syms[u.j + 2] END AS nxt
              FROM w{t}, unnest(range(len(syms))) AS u(j))""")
            ctes.append(f"""mk{t} AS MATERIALIZED (
              SELECT e.*, coalesce(e.sym = m.l AND e.nxt = m.r,
                                   FALSE) AS mt
              FROM e{t} e CROSS JOIN m{t} m)""")
            ctes.append(f"""is{t} AS MATERIALIZED (
              SELECT *, CASE WHEN mt THEN pos - ROW_NUMBER() OVER (
                PARTITION BY word, mt ORDER BY pos) END AS grp
              FROM mk{t})""")
            ctes.append(f"""pr{t} AS MATERIALIZED (
              SELECT *, CASE WHEN mt THEN (pos - min(pos) OVER (
                PARTITION BY word, grp)) % 2 = 0
                ELSE FALSE END AS mg
              FROM is{t})""")
            ctes.append(f"""fi{t} AS MATERIALIZED (
              SELECT *, coalesce(lag(mg) OVER (
                PARTITION BY word ORDER BY pos), FALSE) AS consumed
              FROM pr{t})""")
            ctes.append(f"""w{t + 1} AS MATERIALIZED (
              SELECT word, any_value(cnt) AS cnt,
                     list(CASE WHEN mg THEN sym || nxt ELSE sym END
                          ORDER BY pos) AS syms
              FROM fi{t} WHERE NOT consumed GROUP BY word)""")
        return ",\n".join(ctes)

    bpe_union = "\nUNION ALL\n".join(
        f"SELECT {t} AS rank, l AS left_sym, r AS right_sym, freq "
        f"FROM m{t}" for t in range(12))
    bpe_sql = ("WITH " + _bpe_ctes(12)
               + f"\nSELECT * FROM ({bpe_union})")

    # bpe_encode: the same 12-round chain's FINAL vocabulary (w12 =
    # word -> merged symbol list) joined back onto each document's
    # word stream and flattened in word order; array_to_string([])
    # is NULL in DuckDB, hence the coalesces for wordless docs.
    bpe_encode_sql = ("WITH " + _bpe_ctes(12) + r""",
        dt AS (
          SELECT doc_id, ws[u.j + 1] AS word, u.j AS wi
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(
                         lower(trim(text)), '\s+'), x -> x != '')
                         AS ws
                FROM documents),
               unnest(range(len(ws))) AS u(j)),
        enc AS (
          SELECT doc_id, flatten(list(syms ORDER BY wi)) AS pieces
          FROM dt JOIN w12 USING (word) GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(len(pieces), 0) AS n_pieces,
               coalesce(array_to_string(pieces, ' '), '')
                 AS pieces_str
        FROM documents d LEFT JOIN enc USING (doc_id)""")

    kmeans_sql = (
        "WITH " + _kmeans_ctes(8, 2)
        + "\nSELECT vec_id, cluster FROM a2")
    semdedup_sql = (
        "WITH " + _kmeans_ctes(8, 2) + """,
        tagged AS (
          SELECT e.vec_id, e.v, a.cluster
          FROM emb e JOIN a2 a USING (vec_id)),
        dropped AS (
          SELECT DISTINCT hi.vec_id
          FROM tagged lo JOIN tagged hi
            ON lo.cluster = hi.cluster AND lo.vec_id < hi.vec_id
          WHERE list_cosine_similarity(lo.v, hi.v) >= 0.3)
        SELECT e.vec_id FROM emb e
        ANTI JOIN dropped d ON e.vec_id = d.vec_id""")

    # minhash_dedup oracle: replay the whole LSH pipeline
    # (md5 shingle hashes -> 32 affine perms -> 16 bands of 2 ->
    # bucket self-join -> exact-jaccard verify -> survivor anti-join).
    from vision_parse_spark.operators.dedup import _PERMS_A, _PERMS_B, _PRIME

    sig_list = ", ".join(
        f"list_min(list_transform(hv, x -> (x * {_PERMS_A[k]}"
        f" + {_PERMS_B[k]}) % {_PRIME}))"
        for k in range(32)
    )
    # shared CTE chain up to the verified near-dup pair set; reused by
    # the survivor query (minhash_dedup), the clustering query
    # (dup_clusters), and — over the gate-surviving subset — the
    # curation composition (gate-first semantics)
    def _mh_pairs_cte(src: str = "documents") -> str:
        return f"""toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                     x -> x != '') AS t
          FROM {src}),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(t) >= 3
                      THEN list_distinct(list_transform(
                             range(len(t) - 2),
                             i -> array_to_string(t[i + 1 : i + 3], ' ')))
                      ELSE [array_to_string(t, ' ')] END AS s
          FROM toks),
        h AS (
          SELECT doc_id, s,
                 list_transform(s, x ->
                   CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)
                   % {_PRIME}) AS hv
          FROM sh),
        sig AS (SELECT doc_id, s, [{sig_list}] AS mh FROM h),
        banded AS (
          SELECT doc_id,
                 unnest(list_transform(range(16),
                   b -> struct_pack(band := CAST(b AS INT),
                          bucket := array_to_string(
                            mh[b * 2 + 1 : b * 2 + 2], ',')))
                   , recursive := true)
          FROM sig),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id),
        ver AS (
          SELECT id_a, id_b
          FROM cand
          JOIN sh sa ON sa.doc_id = cand.id_a
          JOIN sh sb ON sb.doc_id = cand.id_b
          WHERE round(CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0
                THEN len(list_intersect(sa.s, sb.s)) * 1.0
                     / len(list_distinct(list_concat(sa.s, sb.s)))
                ELSE 0.0 END, 6) >= 0.5)"""
    minhash_dedup_sql = f"""
        WITH {_mh_pairs_cte()},
        losers AS (SELECT DISTINCT id_b AS doc_id FROM ver)
        SELECT d.doc_id FROM documents d ANTI JOIN losers USING (doc_id)
    """
    # connected components over the verified pair graph: transitive
    # closure (recursive CTE; near-dup components are tiny) -> each
    # vertex labeled with the min reachable id, mirroring the Spark
    # min-label propagation exactly
    dup_clusters_sql = f"""
        WITH RECURSIVE {_mh_pairs_cte()},
        sym AS (SELECT id_a AS a, id_b AS b FROM ver
                UNION SELECT id_b, id_a FROM ver),
        reach AS (
          SELECT a, b FROM sym
          UNION
          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        )
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a
    """
    # incremental variant: NEW batch (odd ids) vs CORPUS (even ids);
    # only new x corpus collisions verified, mirroring the operator
    minhash_incremental_sql = f"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                     x -> x != '') AS t
          FROM documents),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(t) >= 3
                      THEN list_distinct(list_transform(
                             range(len(t) - 2),
                             i -> array_to_string(t[i + 1 : i + 3], ' ')))
                      ELSE [array_to_string(t, ' ')] END AS s
          FROM toks),
        h AS (
          SELECT doc_id, s,
                 list_transform(s, x ->
                   CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)
                   % {_PRIME}) AS hv
          FROM sh),
        sig AS (SELECT doc_id, s, [{sig_list}] AS mh FROM h),
        banded AS (
          SELECT doc_id,
                 unnest(list_transform(range(16),
                   b -> struct_pack(band := CAST(b AS INT),
                          bucket := array_to_string(
                            mh[b * 2 + 1 : b * 2 + 2], ',')))
                   , recursive := true)
          FROM sig),
        cand AS (
          SELECT DISTINCT n.doc_id AS id_n, c.doc_id AS id_c
          FROM banded n JOIN banded c
            ON n.band = c.band AND n.bucket = c.bucket
           AND n.doc_id % 2 = 1 AND c.doc_id % 2 = 0),
        ver AS (
          SELECT id_n
          FROM cand
          JOIN sh sn ON sn.doc_id = cand.id_n
          JOIN sh sc ON sc.doc_id = cand.id_c
          WHERE round(CASE WHEN len(list_distinct(list_concat(sn.s, sc.s))) > 0
                THEN len(list_intersect(sn.s, sc.s)) * 1.0
                     / len(list_distinct(list_concat(sn.s, sc.s)))
                ELSE 0.0 END, 6) >= 0.5),
        losers AS (SELECT DISTINCT id_n AS doc_id FROM ver)
        SELECT d.doc_id FROM documents d
        ANTI JOIN losers USING (doc_id)
        WHERE d.doc_id % 2 = 1
    """
    extract_join = f"""
        SELECT d.source AS conv_id,
               CAST(row_number() OVER (PARTITION BY d.source
                                       ORDER BY d.doc_id) - 1 AS INT)
                   AS turn_idx,
               g.payload_kind, g.markdown, g.status
        FROM documents d
        JOIN read_parquet('{golden_path}') g ON md5(d.text) = g.text_md5
    """
    # simhash / simhash64_portable oracle: same construction as the
    # Spark kernel — md5 hex halves -> two 32-bit token-hash streams ->
    # per-bit ±1 majority -> two packed 32-bit halves.  Generated per bit.
    def _sim_pack(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_sum(list_transform({col}, x -> CASE WHEN"
            f" ((x >> {k}) & 1) = 1 THEN 1 ELSE -1 END)) > 0"
            f" THEN {1 << k} ELSE 0 END)"
            for k in range(32)
        )

    simhash64_sql = f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)),
                             '\\s+'), x -> x != '') AS t
          FROM documents),
        h AS (
          SELECT doc_id,
                 list_transform(t, x ->
                   CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)
                   % {_PRIME}) AS hlo,
                 list_transform(t, x ->
                   CAST(('0x' || substring(md5(x), 17, 15)) AS BIGINT)
                   % {_PRIME}) AS hhi
          FROM toks)
        SELECT doc_id,
               CAST({_sim_pack('hlo')} AS BIGINT) AS simhash_lo,
               CAST({_sim_pack('hhi')} AS BIGINT) AS simhash_hi
        FROM h
    """

    lev_pairs = """
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CASE WHEN greatest(length(a.text), length(b.text)) = 0
                     THEN 1.0
                     ELSE 1 - levenshtein(a.text, b.text)
                          / greatest(length(a.text), length(b.text)) END,
                     6) AS similarity,
               a.lang AS lang
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """
    out = {
        "extract_markdown": extract_join,
        "extract_stats": f"""
            SELECT payload_kind, status, count(*) AS n_turns,
                   CAST(sum(length(markdown)) AS BIGINT) AS md_chars
            FROM ({extract_join})
            GROUP BY payload_kind, status
        """,
        "fence_strip": r"""
            SELECT doc_id,
                   regexp_replace(text, '```(?:markdown)?\n(.*?)\n```',
                                  '\1', 'gs') AS clean_text
            FROM documents
        """,
        "empty_rule": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN '' ELSE text END
                       AS markdown,
                   CASE WHEN length(trim(text)) = 0 THEN 'empty' ELSE 'ok' END
                       AS status
            FROM documents
        """,
        "fast_path": """
            WITH f AS (
              SELECT doc_id, text,
                     round((length(text)
                            - length(regexp_replace(text, '[a-z ]', '', 'g')))
                           * 1.0 / length(text), 2) AS confidence,
                     contains(text, '|') AS has_tables,
                     contains(text, '$') AS has_latex,
                     length(trim(text)) > 0 AS nonempty
              FROM documents)
            SELECT doc_id, confidence,
                   (confidence > 0.6 AND NOT has_tables AND NOT has_latex
                    AND nonempty) AS is_fast,
                   CASE WHEN (confidence > 0.6 AND NOT has_tables
                              AND NOT has_latex AND nonempty)
                        THEN text ELSE '[[FMT]] ' || text END AS routed
            FROM f
        """,
        "ordered_turns": """
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS turn_rank
            FROM events
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     epoch(ts) - lag(epoch(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events)
            SELECT user_id, event_id,
                   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800
                                 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM g
        """,
        "lev_similarity": f"SELECT id_a, id_b, similarity FROM ({lev_pairs})",
        "accuracy_agg": """
            WITH p AS (
              SELECT a.lang AS lang,
                     CASE WHEN greatest(length(a.text), length(b.text)) = 0
                          THEN 1.0
                          ELSE 1 - levenshtein(a.text, b.text)
                               / greatest(length(a.text), length(b.text)) END
                         AS sim
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
            SELECT lang,
                   CAST(sum(CAST(round(sim * 1000000) AS BIGINT)) AS BIGINT)
                       AS sum_sim_e6,
                   count(*) AS n_pairs
            FROM p GROUP BY lang
        """,
        "exact_dedup": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
                   count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "token_count": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens
            FROM documents
        """,
        "quality_score": f"""
            WITH {_QUALITY_SQL_CTES}
            SELECT doc_id, quality_e4 FROM q
        """,
        "top_quality": f"""
            WITH {_QUALITY_SQL_CTES},
            r AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY source
                        ORDER BY quality_e4 DESC, doc_id ASC) AS INT)
                        AS rank
              FROM q)
            SELECT doc_id, source, quality_e4, rank
            FROM r WHERE rank <= 5
        """,
        "lang_id": r"""
            WITH c AS (
              SELECT doc_id,
                     len(regexp_extract_all(lower(text),
                         '\b(?:the|and|of|to|is)\b')) AS en,
                     len(regexp_extract_all(lower(text),
                         '\b(?:le|la|et|les|des)\b')) AS fr,
                     len(regexp_extract_all(lower(text),
                         '\b(?:el|los|las|una|por)\b')) AS es,
                     len(regexp_extract_all(lower(text),
                         '\b(?:der|die|und|das|nicht)\b')) AS de
              FROM documents)
            SELECT doc_id,
                   CASE WHEN en >= fr AND en >= es AND en >= de AND en > 0
                          THEN 'en'
                        WHEN fr >= es AND fr >= de AND fr > 0 THEN 'fr'
                        WHEN es >= de AND es > 0 THEN 'es'
                        WHEN de > 0 THEN 'de'
                        ELSE 'und' END AS lang_pred
            FROM c
        """,
        "ngram_jaccard": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 x -> x != '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3
                          THEN list_distinct(list_transform(
                                 range(len(t) - 2),
                                 i -> array_to_string(t[i + 1 : i + 3], ' ')))
                          ELSE [array_to_string(t, ' ')] END AS s
              FROM toks)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
                         THEN len(list_intersect(a.s, b.s)) * 1.0
                              / len(list_distinct(list_concat(a.s, b.s)))
                         ELSE 0.0 END, 6) AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        """,
        "top_ngrams": r"""
            WITH toks AS (
              SELECT list_filter(string_split_regex(lower(trim(text)),
                                 '\s+'), x -> x != '') AS t
              FROM documents),
            g AS (
              SELECT unnest(list_transform(
                       range(len(t) - 2),
                       i -> array_to_string(t[i + 1 : i + 3], ' '))) AS ngram
              FROM toks WHERE len(t) >= 3)
            SELECT ngram, count(*) AS freq
            FROM g GROUP BY ngram
            ORDER BY freq DESC, ngram ASC
            LIMIT 50
        """,
        "span_dedup": r"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                 '\s+'), x -> x != '') AS t
              FROM documents),
            sp AS (
              SELECT doc_id, i AS pos,
                     array_to_string(t[i + 1 : i + 3], ' ') AS gram
              FROM d, unnest(range(len(t) - 2)) AS u(i)
              WHERE len(t) >= 3),
            fr AS (
              SELECT gram
              FROM (SELECT gram, count(DISTINCT doc_id) AS c
                    FROM sp GROUP BY gram)
              WHERE c > 3),
            cov AS (
              SELECT doc_id, list(pos) AS starts
              FROM sp JOIN fr USING (gram) GROUP BY doc_id),
            cut AS (
              SELECT d.doc_id,
                     CASE WHEN c.starts IS NULL THEN t
                          ELSE list_filter(t, (x, i) ->
                                 len(list_filter(c.starts, s ->
                                     s <= i - 1 AND i - 1 <= s + 2)) = 0)
                     END AS kept,
                     len(t) AS lt
              FROM d LEFT JOIN cov c USING (doc_id))
            SELECT doc_id,
                   -- DuckDB's array_to_string([]) is NULL; Spark's
                   -- concat_ws over an empty array is '' -> align
                   coalesce(array_to_string(kept, ' '), '')
                     AS clean_text,
                   lt - len(kept) AS n_removed
            FROM cut
        """,
        "unigram_logprob": r"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                 '\s+'), x -> x != '') AS t
              FROM documents),
            terms AS (SELECT doc_id, unnest(t) AS term FROM d),
            counts AS (SELECT term, count(*) AS c
                       FROM terms GROUP BY term),
            stats AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                             count(*) AS v
                      FROM counts)
            SELECT doc_id, count(*) AS n_tok,
                   round(avg(ln((c + 1.0) / (n_total + 1.0 * v))), 4)
                       AS avg_logprob
            FROM terms JOIN counts USING (term) CROSS JOIN stats
            GROUP BY doc_id
        """,
        # Interpolated bigram LM: unigram + bigram count relations,
        # then the per-token Jelinek-Mercer mix — first token pure
        # add-1 unigram, later tokens 0.75 * c(p,w)/c(p) + 0.25 *
        # P_u(w).  Same IEEE ops in the same shape as the Spark
        # expression, so only ln's last ulp can differ (round-4).
        "bigram_logprob": r"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                 '\s+'), x -> x != '') AS t
              FROM documents
              WHERE len(list_filter(string_split_regex(
                        lower(trim(text)), '\s+'), x -> x != '')) > 0),
            uni AS (
              SELECT term, count(*) AS c
              FROM (SELECT unnest(t) AS term FROM d) GROUP BY term),
            stats AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                             count(*) AS v
                      FROM uni),
            big AS (
              SELECT prev, cur, count(*) AS cb
              FROM (SELECT unnest(list_transform(
                             range(1, len(t)),
                             i -> {'prev': t[i], 'cur': t[i + 1]}),
                           recursive := true)
                    FROM d WHERE len(t) >= 2)
              GROUP BY prev, cur),
            tok AS (
              SELECT doc_id,
                     unnest(list_transform(range(len(t)),
                       i -> {'cur': t[i + 1],
                             'prev': CASE WHEN i = 0 THEN NULL
                                          ELSE t[i] END}),
                       recursive := true)
              FROM d),
            scored AS (
              SELECT tok.doc_id,
                     CASE WHEN tok.prev IS NULL
                          THEN ln((uc.c + 1.0) / (n_total + 1.0 * v))
                          ELSE ln(0.75 * coalesce(bg.cb, 0) / up.c
                                  + 0.25 * ((uc.c + 1.0)
                                            / (n_total + 1.0 * v)))
                     END AS lp
              FROM tok
              JOIN uni uc ON uc.term = tok.cur
              LEFT JOIN uni up ON up.term = tok.prev
              LEFT JOIN big bg ON bg.prev = tok.prev
                              AND bg.cur = tok.cur
              CROSS JOIN stats)
            SELECT doc_id, count(*) AS n_tok,
                   round(avg(lp), 4) AS avg_logprob
            FROM scored GROUP BY doc_id
        """,
        # Winnowing: replay gram construction (shared ws recipe),
        # md5 hashes, per-window minima and the max-of-covering-
        # window-minima selection rule with DuckDB's 1-based
        # inclusive list slices (l[a:b] = 0-based a-1 .. b-1).
        "winnow_fps": r"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                 '\s+'), x -> x != '') AS t
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3
                          THEN list_transform(range(len(t) - 2),
                                 i -> array_to_string(t[i + 1:i + 3],
                                                      ' '))
                          ELSE [] END AS grams
              FROM d),
            h AS (
              SELECT doc_id,
                     list_transform(grams, x ->
                       CAST(('0x' || substring(md5(x), 1, 15))
                            AS BIGINT)) AS hv,
                     least(4, len(grams)) AS we
              FROM g WHERE len(grams) > 0),
            m AS (
              SELECT doc_id, hv, we,
                     list_transform(range(len(hv) - we + 1),
                       s -> list_min(hv[s + 1:s + we])) AS wm
              FROM h),
            sel AS (
              SELECT doc_id, hv,
                     list_filter(range(len(hv)), i ->
                       hv[i + 1] = list_max(
                         wm[greatest(0, i - we + 1) + 1
                            : least(i, len(hv) - we) + 1])) AS sp
              FROM m)
            SELECT doc_id, CAST(u.i AS INT) AS pos,
                   hv[u.i + 1] AS fingerprint
            FROM sel, unnest(sp) AS u(i)
        """,
        # CCNet bucketing: the unigram-LM chain, then the DISCRETE
        # rank cutoffs — cum doc count over the score histogram in
        # score-descending order; c_k = largest score whose cumcount
        # reaches ceil(kn/3), i.e. the score of the ceil(kn/3)-th doc
        # descending (ties to the better bucket) — exactly the
        # driver-side histogram walk in perplexity_buckets.
        "ccnet_buckets": r"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                 '\s+'), x -> x != '') AS t
              FROM documents),
            terms AS (SELECT doc_id, unnest(t) AS term FROM d),
            counts AS (SELECT term, count(*) AS c
                       FROM terms GROUP BY term),
            stats AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                             count(*) AS v
                      FROM counts),
            scored AS (
              SELECT doc_id, count(*) AS n_tok,
                     round(avg(ln((c + 1.0) / (n_total + 1.0 * v))), 4)
                         AS avg_logprob
              FROM terms JOIN counts USING (term) CROSS JOIN stats
              GROUP BY doc_id),
            hist AS (SELECT avg_logprob AS s, count(*) AS hc
                     FROM scored GROUP BY s),
            cum AS (SELECT s, sum(hc) OVER (ORDER BY s DESC) AS cs
                    FROM hist),
            nn AS (SELECT count(*) AS n FROM scored),
            cuts AS (SELECT
                (SELECT max(s) FROM cum, nn
                 WHERE cs >= ceil(n / 3.0)) AS c1,
                (SELECT max(s) FROM cum, nn
                 WHERE cs >= ceil(2 * n / 3.0)) AS c2)
            SELECT doc_id, n_tok, avg_logprob,
                   CASE WHEN avg_logprob >= c1 THEN 'head'
                        WHEN avg_logprob >= c2 THEN 'middle'
                        ELSE 'tail' END AS pp_bucket
            FROM scored CROSS JOIN cuts
        """,
        "postings": r"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                 '\s+'), x -> x != '') AS t
              FROM documents),
            tf AS (
              SELECT term, doc_id, count(*) AS tf
              FROM (SELECT doc_id, unnest(t) AS term FROM d)
              GROUP BY term, doc_id)
            SELECT term,
                   count(*) AS doc_freq,
                   CAST(sum(tf) AS BIGINT) AS term_freq,
                   string_agg(doc_id || ':' || tf, ','
                              ORDER BY doc_id) AS postings
            FROM tf GROUP BY term
            HAVING count(*) >= 2
        """,
        "bm25": r"""
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                 '\s+'), x -> x != '') AS t
              FROM documents),
            dl AS (SELECT doc_id, len(t) AS dl, t FROM d),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
                      FROM dl),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM (SELECT doc_id, dl, unnest(t) AS term FROM dl)
              WHERE term IN ('hash', 'join', 'vector')
              GROUP BY doc_id, dl, term),
            dfreq AS (SELECT term, count(DISTINCT doc_id) AS df_t
                      FROM tf GROUP BY term)
            SELECT doc_id,
                   round(sum(ln((n_docs - df_t + 0.5) / (df_t + 0.5)
                                + 1.0)
                             * tf * 2.2
                             / (tf + 1.2 * (1.0 - 0.75
                                            + 0.75 * dl / avgdl))),
                         4) AS bm25
            FROM tf
            JOIN dfreq USING (term)
            CROSS JOIN stats
            GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id ASC
            LIMIT 10
        """,
        "simhash16": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                 '\\s+'), x -> x != '') AS t
              FROM documents),
            h AS (
              SELECT doc_id,
                     list_transform(t, x ->
                       CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)
                       % 4294967311) AS hv
              FROM toks)
            SELECT doc_id, CAST((CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 0) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 1) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 2 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 2) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 4 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 3) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 8 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 4) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 16 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 5) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 32 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 6) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 64 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 7) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 128 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 8) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 256 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 9) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 512 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 10) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 1024 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 11) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 2048 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 12) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 4096 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 13) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 8192 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 14) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 16384 ELSE 0 END) + (CASE WHEN list_sum(list_transform(hv, x -> CASE WHEN ((x >> 15) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN 32768 ELSE 0 END) AS BIGINT) AS simhash16 FROM h
        """,
        "minhash_signature": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x != '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3
                          THEN list_distinct(list_transform(
                                 range(len(t) - 2),
                                 i -> array_to_string(t[i + 1 : i + 3], ' ')))
                          ELSE [array_to_string(t, ' ')] END AS s
              FROM toks),
            h AS (
              SELECT doc_id,
                     list_transform(s, x ->
                       CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)
                       % 4294967311) AS hv
              FROM sh)
            SELECT doc_id,
              list_min(list_transform(hv, x -> (x * 1014583970 + 3331544683)
                % 4294967311)) AS perm0_min,
              list_min(list_transform(hv, x -> (x * 671191146 + 967257519)
                % 4294967311)) AS perm1_min,
              list_min(list_transform(hv, x -> (x * 734632613 + 1289204381)
                % 4294967311)) AS perm2_min,
              list_min(list_transform(hv, x -> (x * 963375983 + 3751883492)
                % 4294967311)) AS perm3_min
            FROM h
        """,
        "explode_pages": """
            WITH p AS (SELECT doc_id, string_split(text, chr(12)) AS pages
                       FROM documents)
            SELECT doc_id,
                   unnest(list_transform(range(len(pages)),
                          i -> {'page_idx': CAST(i AS INT),
                                'page_text': pages[i+1]}),
                          recursive := true)
            FROM p
        """,
        "doc_assembly": """
            SELECT source,
                   string_agg(text, chr(10) ORDER BY doc_id) AS doc,
                   count(*) AS n_parts
            FROM documents GROUP BY source
        """,
        "simhash64_portable": simhash64_sql,
        # the production pandas-UDF path computes the identical
        # construction (round-3 unification), so it shares the oracle
        "simhash": simhash64_sql,
        # near-dup pairs: replay chunk bucketing + xor/popcount verify
        # on top of the same signature construction
        "simhash_pairs": f"""
            WITH sig AS ({simhash64_sql}),
            chunks AS (
              SELECT doc_id, simhash_lo, simhash_hi,
                     0 AS ci, simhash_lo & 65535 AS cv FROM sig
              UNION ALL SELECT doc_id, simhash_lo, simhash_hi,
                     1, (simhash_lo >> 16) & 65535 FROM sig
              UNION ALL SELECT doc_id, simhash_lo, simhash_hi,
                     2, simhash_hi & 65535 FROM sig
              UNION ALL SELECT doc_id, simhash_lo, simhash_hi,
                     3, (simhash_hi >> 16) & 65535 FROM sig)
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash_lo, b.simhash_lo))
                        + bit_count(xor(a.simhash_hi, b.simhash_hi))
                        AS BIGINT) AS hamming
            FROM chunks a JOIN chunks b
              ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash_lo, b.simhash_lo))
                  + bit_count(xor(a.simhash_hi, b.simhash_hi)) <= 3
        """,
        "minhash_dedup": minhash_dedup_sql,
        "minhash_incremental": minhash_incremental_sql,
        "decontaminate": f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x != '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 5
                          THEN list_distinct(list_transform(
                                 range(len(t) - 4),
                                 i -> array_to_string(t[i + 1 : i + 5],
                                                      ' ')))
                          ELSE [array_to_string(t, ' ')] END AS s
              FROM toks),
            eg AS (
              SELECT DISTINCT unnest(s) AS gram FROM sh
              WHERE doc_id % 10 = 0),
            tg AS (
              SELECT doc_id, unnest(s) AS gram FROM sh
              WHERE doc_id % 10 != 0),
            hits AS (
              SELECT doc_id, count(DISTINCT tg.gram) AS n_hits
              FROM tg JOIN eg USING (gram) GROUP BY doc_id),
            cont AS (SELECT doc_id FROM hits WHERE n_hits >= 2)
            SELECT d.doc_id FROM documents d
            ANTI JOIN cont USING (doc_id)
            WHERE d.doc_id % 10 != 0
        """,
        "contamination_hits": f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x != '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 5
                          THEN list_distinct(list_transform(
                                 range(len(t) - 4),
                                 i -> array_to_string(t[i + 1 : i + 5],
                                                      ' ')))
                          ELSE [array_to_string(t, ' ')] END AS s
              FROM toks),
            eg AS (
              SELECT DISTINCT unnest(s) AS gram FROM sh
              WHERE doc_id % 10 = 0),
            tg AS (
              SELECT doc_id, unnest(s) AS gram FROM sh
              WHERE doc_id % 10 != 0)
            SELECT doc_id, count(DISTINCT tg.gram) AS n_hits
            FROM tg JOIN eg USING (gram) GROUP BY doc_id
        """,
        "dup_clusters": dup_clusters_sql,
        "scrub_pii": _scrub_sql(),
        "pack_contexts": """
            WITH base AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(trim(text),
                         '\\s+'), x -> x != '')) AS n_tokens
              FROM documents),
            cum AS (
              SELECT doc_id, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS start
              FROM base)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(floor(start / 2048) AS BIGINT) AS bin_id,
                   CAST(start % 2048 AS BIGINT) AS bin_offset
            FROM cum
        """,
        "repetition_stats": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(list_transform(
                       string_split(text, chr(10)), x -> trim(x)),
                       x -> x != '') AS lines,
                     list_filter(string_split_regex(lower(trim(text)),
                       '\\s+'), x -> x != '') AS toks
              FROM documents),
            wl AS (
              SELECT doc_id,
                     len(lines) AS n_lines,
                     CASE WHEN len(lines) > 0
                          THEN round(1 - len(list_distinct(lines)) * 1.0
                                     / len(lines), 6)
                          ELSE 0.0 END AS dup_line_frac,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(range(len(toks) - 1),
                               i -> toks[i + 1] || ' ' || toks[i + 2])
                          ELSE [] END AS bigrams
              FROM base),
            pg AS (
              SELECT doc_id, bg, count(*) AS c
              FROM (SELECT doc_id, unnest(bigrams) AS bg FROM wl)
              GROUP BY doc_id, bg),
            per_doc AS (
              SELECT doc_id, max(c) AS top, sum(c) AS nb
              FROM pg GROUP BY doc_id)
            SELECT wl.doc_id, n_lines, dup_line_frac,
                   CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
                   CASE WHEN coalesce(nb, 0) > 0
                        THEN round(top * 1.0 / nb, 6)
                        ELSE 0.0 END AS top_bigram_frac
            FROM wl LEFT JOIN per_doc USING (doc_id)
        """,
        "hash_split": """
            SELECT doc_id,
                   CASE WHEN CAST(('0x' || substring(
                            md5(CAST(doc_id AS VARCHAR)), 1, 15))
                            AS BIGINT) % 1000 < 800
                        THEN 'train' ELSE 'test' END AS split
            FROM documents
        """,
        "resample_mixture": """
            WITH w AS (
              SELECT * FROM (VALUES
                ('src0', CAST(0.5  AS DOUBLE)),
                ('src1', CAST(0.25 AS DOUBLE)),
                ('src2', CAST(0.25 AS DOUBLE))) AS t(s, wt)),
            cnt AS (SELECT source AS s, count(*) AS n
                    FROM documents GROUP BY source),
            j AS (SELECT w.s, w.wt, cnt.n
                  FROM w JOIN cnt ON w.s = cnt.s),
            tt AS (SELECT min(n / wt) AS t FROM j),
            fr AS (SELECT s,
                          least(CAST(1.0 AS DOUBLE), (wt * t) / n) AS f
                   FROM j, tt)
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM documents d JOIN fr ON d.source = fr.s
            WHERE CAST(('0x' || substring(
                      md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 1000000
                  < CAST(floor(f * 1000000) AS BIGINT)
        """,
        "stratified_sample": """
            SELECT doc_id, source FROM documents
            WHERE CAST(('0x' || substring(
                      md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 1000000
                  < CASE source WHEN 'src0' THEN 1000000
                                WHEN 'src1' THEN 500000
                                WHEN 'src2' THEN 250000
                                ELSE 100000 END
        """,
        "ann_lsh": f"""
            WITH b AS (
              SELECT vec_id, embedding, {bucket_sql} AS lsh_bucket
              FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS q_vec, lsh_bucket
                  FROM b WHERE vec_id < 8),
            s AS (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.q_vec, c.embedding), 4)
                         AS cosine
              FROM b c JOIN q USING (lsh_bucket)
              WHERE c.vec_id <> q.query_id),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
              FROM s)
            SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
        """,
        "ann_ivf": """
            WITH cents AS (
              SELECT vec_id AS cell, embedding AS c_vec
              FROM embeddings WHERE vec_id < 8),
            corpus AS (
              SELECT neighbor_id, n_vec, cell FROM (
                SELECT e.vec_id AS neighbor_id, e.embedding AS n_vec,
                       c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding,
                                                         c.c_vec) DESC,
                                  c.cell ASC) AS rn
                FROM embeddings e CROSS JOIN cents c)
              WHERE rn = 1),
            probes AS (
              SELECT query_id, q_vec, cell FROM (
                SELECT e.vec_id AS query_id, e.embedding AS q_vec,
                       c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding,
                                                         c.c_vec) DESC,
                                  c.cell ASC) AS rn
                FROM embeddings e CROSS JOIN cents c
                WHERE e.vec_id < 8)
              WHERE rn <= 3),
            s AS (
              SELECT p.query_id, co.neighbor_id,
                     round(list_cosine_similarity(p.q_vec, co.n_vec), 4)
                         AS cosine
              FROM corpus co JOIN probes p USING (cell)
              WHERE co.neighbor_id <> p.query_id),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
              FROM s)
            SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv
                       FROM embeddings WHERE vec_id < 8),
            s AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.qv, e.embedding), 4)
                         AS cosine
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.qid),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
              FROM s)
            SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
        """,
        "embedding_near_dups": f"""
            WITH b AS (
              SELECT vec_id, embedding, {bucket_sql} AS lsh_bucket
              FROM embeddings)
            SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
            FROM b a JOIN b c
              ON a.lsh_bucket = c.lsh_bucket AND a.vec_id < c.vec_id
            WHERE list_cosine_similarity(a.embedding, c.embedding) >= 0.3
        """,
        "kmeans_assign": kmeans_sql,
        "pq_codes": pq_codes_sql,
        "pq_adc_topk": pq_adc_sql,
        "ivf_adc_topk": ivf_adc_sql,
        "scalar_quantize": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            st AS (
              SELECT u.i AS i, min(e.v[u.i]) AS lo,
                     max(e.v[u.i]) - min(e.v[u.i]) AS rng
              FROM e, unnest(range(1, len(e.v) + 1)) AS u(i)
              GROUP BY u.i),
            q AS (
              SELECT e.vec_id, u.i, e.v[u.i] AS x, st.lo, st.rng,
                     CASE WHEN st.rng = CAST(0 AS DOUBLE) THEN 0
                          ELSE CAST(round(((e.v[u.i] - st.lo)
                               / st.rng) * CAST(255 AS DOUBLE))
                               AS INTEGER) END AS code
              FROM e, unnest(range(1, len(e.v) + 1)) AS u(i)
              JOIN st ON st.i = u.i)
            SELECT vec_id,
                   string_agg(code::VARCHAR, ',' ORDER BY i)
                     AS codes_str,
                   round(max(abs(x - (lo + (CAST(code AS DOUBLE)
                         * rng) / CAST(255 AS DOUBLE)))), 6)
                     AS max_err
            FROM q GROUP BY vec_id
        """,
        "bpe_merges": bpe_sql,
        "bpe_encode": bpe_encode_sql,
        "semdedup": semdedup_sql,
        "embedding_dup_clusters": f"""
            WITH RECURSIVE b AS (
              SELECT vec_id, embedding, {bucket_sql} AS lsh_bucket
              FROM embeddings),
            pairs AS (
              SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
              FROM b a JOIN b c
                ON a.lsh_bucket = c.lsh_bucket AND a.vec_id < c.vec_id
              WHERE list_cosine_similarity(a.embedding, c.embedding)
                    >= 0.3),
            sym AS (SELECT id_a AS a, id_b AS s FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT a, s FROM sym
              UNION
              SELECT r.a, m.s FROM reach r JOIN sym m ON r.s = m.a
            )
            SELECT a AS vec_id, least(a, min(s)) AS cluster_id
            FROM reach GROUP BY a
        """,
        "doc_fingerprint": r"""
            WITH n AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
                         AS norm
              FROM documents)
            SELECT doc_id,
                   CASE WHEN length(norm) = 0 THEN 0
                        ELSE list_reduce(
                               list_transform(string_split(norm, ''),
                                              c -> CAST(ascii(c) AS BIGINT)),
                               (acc, c) -> (acc * 31 + c) % 2147483647)
                   END AS fingerprint
            FROM n
        """,
        "corpus_rollup": """
            SELECT lang, source,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(GROUPING(lang, source) AS BIGINT) AS gid
            FROM documents
            GROUP BY ROLLUP (lang, source)
        """,
        "asof_attribution": """
            WITH c AS (
              SELECT user_id, ts, 0 AS side, event_id AS oid,
                     event_id AS rid, epoch_us(ts) AS rts,
                     value AS rvalue,
                     NULL::BIGINT AS l_event_id,
                     NULL::DOUBLE AS l_value
              -- ts IS NOT NULL mirrors the operator's right-side
              -- filter (a NULL-ts click can never be "latest prior")
              FROM events
              WHERE event_type = 'click' AND ts IS NOT NULL),
            p AS (
              SELECT user_id, ts, 1 AS side, event_id AS oid,
                     NULL::BIGINT AS rid, NULL::BIGINT AS rts,
                     NULL::DOUBLE AS rvalue,
                     event_id AS l_event_id, value AS l_value
              FROM events WHERE event_type = 'purchase'),
            u AS (SELECT * FROM c UNION ALL SELECT * FROM p),
            m AS (
              SELECT *,
                     last_value(rid IGNORE NULLS) OVER w AS m_rid,
                     last_value(rts IGNORE NULLS) OVER w AS m_rts,
                     last_value(rvalue IGNORE NULLS) OVER w AS m_rvalue
              FROM u
              -- NULLS FIRST replays Spark's ASC default, so a
              -- NULL-ts purchase sorts before every click and gets
              -- NO match (DuckDB's NULLS LAST default would hand it
              -- the globally latest click instead)
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY ts NULLS FIRST, side, oid
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW))
            SELECT l_event_id AS event_id, user_id,
                   l_value AS value,
                   m_rid AS asof_event_id,
                   m_rvalue AS asof_value,
                   epoch_us(ts) - m_rts AS asof_lag_us
            FROM m WHERE side = 1
        """,
        "event_quantiles": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   round(quantile_cont(value, 0.5), 4) AS median_value,
                   round(quantile_cont(value, 0.95), 4) AS p95_value,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "conv_stats": """
            SELECT source,
                   count(*) AS n_turns,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   min(text) AS min_text,
                   max(text) AS max_text
            FROM documents GROUP BY source
        """,
        "chunk_documents": """
            WITH t AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS toks
              FROM documents),
            c AS (
              SELECT doc_id,
                     1 + CAST(ceil(greatest(len(toks) - 64, 0) / 56.0)
                              AS INT) AS n_chunks,
                     toks
              FROM t),
            e AS (
              SELECT doc_id,
                     unnest(list_transform(range(n_chunks),
                       i -> struct_pack(chunk_idx := CAST(i AS INT),
                              chunk_text := array_to_string(
                                toks[i * 56 + 1 : i * 56 + 64], ' '))),
                       recursive := true)
              FROM c)
            SELECT doc_id, chunk_idx, chunk_text,
                   CAST(CASE WHEN length(chunk_text) = 0 THEN 0
                        ELSE len(string_split(chunk_text, ' '))
                        END AS INT) AS n_tokens
            FROM e
        """,
        "regional_revenue": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
            GROUP BY r_name, n_name
        """,
        "promo_revenue_share": """
            WITH a AS (
              SELECT round(sum(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE CAST(0 AS DOUBLE) END), 2)
                       AS promo_rev,
                     round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_rev
              FROM lineitem JOIN part ON l_partkey = p_partkey)
            SELECT promo_rev, total_rev,
                   round(promo_rev / total_rev
                         * CAST(100 AS DOUBLE), 4) AS promo_pct
            FROM a
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            SELECT c_custkey, c_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_spend
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            HAVING count(*) >= 3
        """,
    }
    # the curation COMPOSITION, assembled from the stage oracles above
    # (each CTE body is a full SELECT, so the nested WITH of the dedup
    # pipeline is legal inside its CTE).  GATE-FIRST semantics, exactly
    # as the Spark operator composes: quality+repetition gates prune
    # the corpus, the LSH dedup replay runs over the GATED subset (so
    # the cluster representative is the min id among gate survivors),
    # and the scrub is replayed over the dedup survivors.
    out["curate"] = f"""
        WITH qual AS (
          SELECT doc_id FROM ({out['quality_score']})
          WHERE quality_e4 >= 5000),
        rep AS (
          SELECT doc_id FROM ({out['repetition_stats']})
          WHERE dup_line_frac <= 0.3 AND top_bigram_frac <= 0.2),
        gated AS (
          SELECT d.doc_id, d.text FROM documents d
          JOIN qual USING (doc_id)
          JOIN rep USING (doc_id)),
        {_mh_pairs_cte('gated')},
        losers AS (SELECT DISTINCT id_b AS doc_id FROM ver),
        surv AS (
          SELECT g.doc_id, g.text FROM gated g
          ANTI JOIN losers USING (doc_id))
        SELECT doc_id, scrubbed_md5 FROM ({_scrub_sql('surv')})
    """
    # the SEVEN-stage composition (curate_full): the curate chain
    # with decontamination, SemDeDup and the frequent-span cut
    # spliced in at their pipeline positions.  Stage replay notes:
    # the decon predicate (>= 2 shared distinct 5-grams with the
    # eval split) is per-train-doc independent, so the full-corpus
    # contamination_hits oracle anti-joins cleanly against the gated
    # subset; KMeans is NOT subset-independent, so the Lloyd chain
    # replays over exactly the decon survivors' embeddings (init =
    # k lowest surviving vec_ids, mirroring the operator's init on
    # its input); the span doc-frequency threshold counts documents
    # among DEDUP SURVIVORS only, exactly as the Spark composition
    # orders the stages.
    out["curate_full"] = f"""
        WITH qual AS (
          SELECT doc_id FROM ({out['quality_score']})
          WHERE quality_e4 >= 5000),
        rep AS (
          SELECT doc_id FROM ({out['repetition_stats']})
          WHERE dup_line_frac <= 0.3 AND top_bigram_frac <= 0.2),
        gated AS (
          SELECT dc.doc_id, dc.text FROM documents dc
          JOIN qual USING (doc_id)
          JOIN rep USING (doc_id)
          WHERE dc.doc_id % 10 != 0),
        cont AS (
          SELECT doc_id FROM ({out['contamination_hits']})
          WHERE n_hits >= 2),
        decon AS (
          SELECT g.doc_id, g.text FROM gated g
          ANTI JOIN cont USING (doc_id)),
        sub_emb AS (
          SELECT e.vec_id, e.embedding FROM embeddings e
          JOIN decon sv ON e.vec_id = sv.doc_id),
        {_kmeans_ctes(8, 2, 'sub_emb')},
        tagged AS (
          SELECT e.vec_id, e.v, a.cluster
          FROM emb e JOIN a2 a USING (vec_id)),
        semdrop AS (
          SELECT DISTINCT hi.vec_id
          FROM tagged lo JOIN tagged hi
            ON lo.cluster = hi.cluster AND lo.vec_id < hi.vec_id
          WHERE list_cosine_similarity(lo.v, hi.v) >= 0.3),
        sem_surv AS (
          SELECT d2.doc_id, d2.text FROM decon d2
          ANTI JOIN semdrop ON d2.doc_id = semdrop.vec_id),
        {_mh_pairs_cte('sem_surv')},
        losers AS (SELECT DISTINCT id_b AS doc_id FROM ver),
        dd AS (
          SELECT s2.doc_id, s2.text FROM sem_surv s2
          ANTI JOIN losers USING (doc_id)),
        sd AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)),
                             '\\s+'), x -> x != '') AS t
          FROM dd),
        sp AS (
          SELECT doc_id, i AS pos,
                 array_to_string(t[i + 1 : i + 3], ' ') AS gram
          FROM sd, unnest(range(len(t) - 2)) AS u(i)
          WHERE len(t) >= 3),
        fr AS (
          SELECT gram
          FROM (SELECT gram, count(DISTINCT doc_id) AS c
                FROM sp GROUP BY gram)
          WHERE c > 3),
        cov AS (
          SELECT doc_id, list(pos) AS starts
          FROM sp JOIN fr USING (gram) GROUP BY doc_id),
        cut AS (
          SELECT sd.doc_id,
                 CASE WHEN c.starts IS NULL THEN t
                      ELSE list_filter(t, (x, i) ->
                             len(list_filter(c.starts, s ->
                                 s <= i - 1 AND i - 1 <= s + 2)) = 0)
                 END AS kept
          FROM sd LEFT JOIN cov c USING (doc_id)),
        spanout AS (
          SELECT doc_id,
                 coalesce(array_to_string(kept, ' '), '') AS text
          FROM cut)
        SELECT doc_id, scrubbed_md5 FROM ({_scrub_sql('spanout')})
    """
    # line-granularity boilerplate cut: replay the trimmed-line doc
    # frequency, the removal-position lists and the order-preserving
    # line filter (DuckDB list lambdas are 1-indexed -> p = i - 1,
    # same adjustment as the span_dedup oracle).
    out["line_dedup"] = """
        WITH ld AS (
          SELECT doc_id, string_split(text, chr(10)) AS ls
          FROM documents),
        st AS (
          SELECT doc_id, i AS pos, trim(ls[i + 1]) AS key
          FROM ld, unnest(range(len(ls))) AS u(i)
          WHERE trim(ls[i + 1]) != ''),
        fr AS (
          SELECT key FROM (
            SELECT key, count(DISTINCT doc_id) AS c
            FROM st GROUP BY key)
          WHERE c > 3),
        rm AS (
          SELECT doc_id, list(pos) AS rmp
          FROM st JOIN fr USING (key) GROUP BY doc_id),
        cut AS (
          SELECT ld.doc_id,
                 CASE WHEN r.rmp IS NULL THEN ls
                      ELSE list_filter(ls, (x, i) ->
                             len(list_filter(r.rmp, p -> p = i - 1))
                             = 0)
                 END AS kept,
                 len(ls) AS n
          FROM ld LEFT JOIN rm r USING (doc_id))
        SELECT doc_id,
               coalesce(array_to_string(kept, chr(10)), '')
                   AS clean_text,
               n - len(kept) AS n_removed_lines
        FROM cut
    """
    # Gopher rule bundle (Rae et al. 2021 A1.1): replay every signal
    # from the same token/line recipes; the pass flag compares the
    # ROUNDED columns exactly as the Spark gate does.
    _stop_lit = "['the','be','to','of','and','that','have','with']"
    # C4 cleaning: line rules inside list_filter over the trimmed
    # \n-split (terminal punct via \z — absolute end in BOTH Java
    # regex and RE2, see operators/selection.py), page rules over
    # the lowercased original text; sentence proxy = terminal-mark
    # occurrences in the kept text.  min_sentences=3 mirrors the
    # Spark contract query.
    out["c4_filters"] = r"""
        WITH page AS (
          SELECT doc_id, """ + _C4_PAGE_EXPR + r""" AS text
          FROM documents),
        base AS (
          SELECT doc_id, lower(text) AS low,
                 list_filter(list_transform(
                     string_split(text, chr(10)), x -> trim(x)),
                     x -> x != '') AS lines
          FROM page),
        k AS (
          SELECT doc_id, low,
                 list_filter(lines, x ->
                     regexp_matches(x, '[.!?"]\z')
                     AND len(list_filter(string_split_regex(x,
                         '\s+'), w -> w != '')) >= 3
                     AND NOT regexp_matches(lower(x),
                         '\bjavascript\b')) AS kept
          FROM base)
        SELECT doc_id,
               len(kept) AS n_lines_kept,
               len(regexp_extract_all(coalesce(
                   array_to_string(kept, chr(10)), ''), '[.!?]'))
                   AS n_sentences,
               (NOT regexp_matches(low,
                    '\b(badword1|badword2|obscenity)\b')
                AND NOT contains(low, 'lorem ipsum')
                AND NOT contains(low, '{')
                AND len(regexp_extract_all(coalesce(
                    array_to_string(kept, chr(10)), ''),
                    '[.!?]')) >= 3)
                   AS c4_pass,
               coalesce(array_to_string(kept, chr(10)), '')
                   AS clean_text
        FROM k
    """

    out["gopher_signals"] = f"""
        WITH base AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(lower(trim(text)),
                             '\\s+'), x -> x != '') AS t,
                 list_filter(list_transform(
                     string_split(text, chr(10)), x -> trim(x)),
                     x -> x != '') AS lines
          FROM documents),
        sig AS (
          SELECT doc_id,
                 len(t) AS n_words,
                 len(lines) AS n_lines,
                 length(coalesce(array_to_string(t, ''), ''))
                     AS tok_chars,
                 len(regexp_extract_all(text, '#'))
                   + len(regexp_extract_all(text, '\\.\\.\\.|…'))
                     AS n_sym,
                 len(list_filter(lines, x ->
                     regexp_matches(x, '^(\\*|-|•)'))) AS n_bullet,
                 len(list_filter(lines, x ->
                     regexp_matches(x, '(\\.\\.\\.|…)$'))) AS n_ell,
                 len(list_filter(t, x ->
                     regexp_matches(x, '[a-z]'))) AS n_alpha,
                 len(list_intersect(list_distinct(t), {_stop_lit}))
                     AS stop_hits
          FROM base),
        r AS (
          SELECT doc_id,
                 n_words,
                 round(CASE WHEN n_words > 0
                       THEN tok_chars * 1.0 / n_words
                       ELSE 0.0 END, 4) AS mean_word_len,
                 round(CASE WHEN n_words > 0
                       THEN n_sym * 1.0 / n_words
                       ELSE 0.0 END, 4) AS symbol_word_ratio,
                 round(CASE WHEN n_lines > 0
                       THEN n_bullet * 1.0 / n_lines
                       ELSE 0.0 END, 4) AS bullet_line_frac,
                 round(CASE WHEN n_lines > 0
                       THEN n_ell * 1.0 / n_lines
                       ELSE 0.0 END, 4) AS ellipsis_line_frac,
                 round(CASE WHEN n_words > 0
                       THEN n_alpha * 1.0 / n_words
                       ELSE 0.0 END, 4) AS alpha_word_frac,
                 stop_hits
          FROM sig)
        SELECT *,
               (n_words >= 30 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_word_ratio <= 0.1
                AND bullet_line_frac <= 0.9
                AND ellipsis_line_frac <= 0.3
                AND alpha_word_frac >= 0.8
                AND stop_hits >= 1) AS gopher_pass
        FROM r
    """
    # DSIR (Xie et al. 2023): hashed uni+bigram counts -> smoothed
    # bucket distributions for target (doc_id%10=0) and raw corpora
    # -> per-raw-doc bag log-likelihood ratio.  Hash = the engine's
    # portable md5 bucket; smoothing 1.0, B = 512.
    # Quality classifier: replay 8 full-batch GD steps as
    # MATERIALIZED CTEs (w_t / bias_t relations; f is the per-doc
    # gram-presence stream, referenced twice per round — inlining
    # would double the plan per round, the bpe_merges lesson).
    # All literals exact binary (lr=0.125); float drift between the
    # engines' sum orders is ~1e-14, five orders under the 4-decimal
    # score rounding (see operators/classifier.py docstring).
    def _clf_ctes(iters: int) -> str:
        ctes = [r"""ctt AS MATERIALIZED (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)),
                             '\s+'), x -> x != '') AS t
          FROM documents),
        cgr AS MATERIALIZED (
          SELECT doc_id,
                 list_concat(t, CASE WHEN len(t) >= 2
                   THEN list_transform(range(len(t) - 1),
                        i -> t[i + 1] || ' ' || t[i + 2])
                   ELSE [] END) AS g
          FROM ctt),
        f AS MATERIALIZED (
          SELECT DISTINCT doc_id,
                 CAST(('0x' || substring(md5(gram), 1, 15))
                      AS BIGINT) % 512 AS bucket
          FROM (SELECT doc_id, unnest(g) AS gram FROM cgr)),
        lab AS MATERIALIZED (
          SELECT doc_id,
                 CASE WHEN contains(' ' || text || ' ', ' spark ')
                      THEN 1 ELSE 0 END AS y
          FROM documents),
        nn AS MATERIALIZED (
          SELECT count(DISTINCT doc_id) AS n FROM f),
        w0 AS MATERIALIZED (
          SELECT DISTINCT bucket, 0.0 AS w FROM f),
        b0 AS MATERIALIZED (SELECT 0.0 AS bias)"""]
        for t in range(iters):
            ctes.append(f"""s{t} AS MATERIALIZED (
              SELECT d.doc_id, d.y,
                     1.0 / (1.0 + exp(-(b.bias + d.sw))) - d.y AS r
              FROM (SELECT f.doc_id, any_value(lab.y) AS y,
                           sum(w.w) AS sw
                    FROM f JOIN w{t} w USING (bucket)
                           JOIN lab USING (doc_id)
                    GROUP BY f.doc_id) d
              CROSS JOIN b{t} b)""")
            ctes.append(f"""w{t + 1} AS MATERIALIZED (
              SELECT w.bucket,
                     w.w - 0.125 * coalesce(g.g, 0)
                         / (SELECT n FROM nn) AS w
              FROM w{t} w LEFT JOIN (
                SELECT bucket, sum(r) AS g
                FROM f JOIN s{t} USING (doc_id)
                GROUP BY bucket) g USING (bucket))""")
            ctes.append(f"""b{t + 1} AS MATERIALIZED (
              SELECT bias - 0.125 * (SELECT sum(r) FROM s{t})
                          / (SELECT n FROM nn) AS bias
              FROM b{t})""")
        return ",\n".join(ctes)

    out["quality_clf"] = (
        "WITH " + _clf_ctes(8) + """
        SELECT d.doc_id,
               round(1.0 / (1.0 + exp(-(b.bias + d.sw))), 4) AS score,
               round(1.0 / (1.0 + exp(-(b.bias + d.sw))), 4) >= 0.75
                   AS quality_keep
        FROM (SELECT f.doc_id, sum(w.w) AS sw
              FROM f JOIN w8 w USING (bucket)
              GROUP BY f.doc_id) d
        CROSS JOIN b8 b
    """)

    out["dsir_weights"] = """
        WITH tt AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)),
                             '\\s+'), x -> x != '') AS t
          FROM documents),
        grams AS (
          SELECT doc_id,
                 list_concat(t, CASE WHEN len(t) >= 2
                   THEN list_transform(range(len(t) - 1),
                        i -> t[i + 1] || ' ' || t[i + 2])
                   ELSE [] END) AS g
          FROM tt),
        db AS (
          SELECT doc_id,
                 CAST(('0x' || substring(md5(gram), 1, 15))
                      AS BIGINT) % 512 AS bucket,
                 count(*) AS c
          FROM (SELECT doc_id, unnest(g) AS gram FROM grams)
          GROUP BY doc_id, bucket),
        rawb AS (SELECT * FROM db WHERE doc_id % 10 != 0),
        tgtb AS (SELECT * FROM db WHERE doc_id % 10 = 0),
        qd AS (SELECT bucket, sum(c) AS qc FROM rawb GROUP BY bucket),
        pd AS (SELECT bucket, sum(c) AS pc FROM tgtb GROUP BY bucket),
        dist AS (
          SELECT coalesce(qd.bucket, pd.bucket) AS bucket,
                 coalesce(qc, 0) AS qc, coalesce(pc, 0) AS pc
          FROM qd FULL JOIN pd ON qd.bucket = pd.bucket),
        tot AS (SELECT sum(qc) AS qn, sum(pc) AS pn FROM dist),
        lr AS (
          SELECT bucket,
                 ln((pc + 1.0) / (pn + 512.0))
                   - ln((qc + 1.0) / (qn + 512.0)) AS lr
          FROM dist, tot)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
               round(sum(c * lr), 4) AS logw
        FROM rawb JOIN lr USING (bucket)
        GROUP BY doc_id
    """
    # Sketches: the DuckDB replays are GENERATED by the same module
    # that builds the Spark plans (operators/sketches.py), so the
    # register construction, the scaled-integer harmonic fold and
    # every float literal are single-sourced across both engines.
    from vision_parse_spark.operators.sketches import (
        cms_counts_sql, hll_distinct_sql)

    _tok_lang_src = (
        "(SELECT lang, unnest(list_filter(string_split_regex("
        "lower(trim(text)), '\\s+'), x -> x != '')) AS tok "
        "FROM documents)")
    _tok_src = (
        "(SELECT unnest(list_filter(string_split_regex("
        "lower(trim(text)), '\\s+'), x -> x != '')) AS tok "
        "FROM documents)")
    out["hll_vocab"] = f"""
        SELECT h.lang, h.hll_est, e.exact_cnt
        FROM ({hll_distinct_sql("tok", _tok_lang_src, ["lang"], p=12)}) h
        JOIN (SELECT lang, count(DISTINCT tok) AS exact_cnt
              FROM {_tok_lang_src} GROUP BY lang) e USING (lang)
    """
    _probe_sql = (f"SELECT tok FROM (SELECT tok, count(*) AS c "
                  f"FROM {_tok_src} GROUP BY tok) "
                  f"ORDER BY c DESC, tok LIMIT 20")
    out["cms_heavy"] = f"""
        SELECT c.tok, c.cms_est, e.exact_cnt
        FROM ({cms_counts_sql("tok", _tok_src, _probe_sql, "tok")}) c
        JOIN (SELECT tok, count(*) AS exact_cnt
              FROM {_tok_src} GROUP BY tok) e USING (tok)
    """
    from vision_parse_spark.operators.sketches import bloom_sql

    _tok_en_src = (
        "(SELECT unnest(list_filter(string_split_regex("
        "lower(trim(text)), '\\s+'), x -> x != '')) AS tok "
        "FROM documents WHERE lang = 'en')")
    out["bloom_tokens"] = f"""
        SELECT m.tok, m.maybe_present,
               (en.tok IS NOT NULL) AS actually_present
        FROM ({bloom_sql("tok", _tok_en_src, _probe_sql, "tok")}) m
        LEFT JOIN (SELECT DISTINCT tok FROM {_tok_en_src}) en
        USING (tok)
    """
    # ROUGE-2 recall over adjacent-doc pairs: the same union +
    # (pair, gram) agg + clipped/total collapse as the Spark side
    out["rouge2"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)),
                             '\\s+'), x -> x != '') AS t
          FROM documents),
        g AS (
          SELECT doc_id,
                 CASE WHEN len(t) >= 2
                   THEN list_transform(range(len(t) - 1),
                        i -> t[i + 1] || ' ' || t[i + 2])
                   ELSE [] END AS g
          FROM t),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.g AS gr, b.g AS gc
          FROM g a JOIN g b ON b.doc_id = a.doc_id + 1),
        pg AS (
          SELECT id_a, id_b, gm, sum(r) AS r, sum(c) AS c
          FROM (
            SELECT id_a, id_b, unnest(gr) AS gm, 1 AS r, 0 AS c
            FROM pairs
            UNION ALL
            SELECT id_a, id_b, unnest(gc) AS gm, 0 AS r, 1 AS c
            FROM pairs)
          GROUP BY id_a, id_b, gm),
        pp AS (
          SELECT id_a, id_b, sum(least(r, c)) AS clip, sum(r) AS tot
          FROM pg WHERE r > 0 GROUP BY id_a, id_b)
        SELECT id_a, id_b, round(clip / tot, 6) AS rouge2 FROM pp
    """
    # funnel: the same conditional-min window chain, stage k gated on
    # strictly-after stage k-1, then the per-user collapse
    out["event_funnel"] = """
        WITH s AS (
          SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        a AS (
          SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
                    OVER (PARTITION BY user_id) AS signup_us
          FROM s),
        b AS (
          SELECT *, min(CASE WHEN event_type = 'click'
                             AND us > signup_us THEN us END)
                    OVER (PARTITION BY user_id) AS click_us
          FROM a),
        c AS (
          SELECT *, min(CASE WHEN event_type = 'purchase'
                             AND us > click_us THEN us END)
                    OVER (PARTITION BY user_id) AS purchase_us
          FROM b)
        SELECT user_id,
               max(signup_us) AS signup_us,
               max(click_us) AS click_us,
               max(purchase_us) AS purchase_us,
               CAST(max(signup_us) IS NOT NULL AS INTEGER)
                 + CAST(max(click_us) IS NOT NULL AS INTEGER)
                 + CAST(max(purchase_us) IS NOT NULL AS INTEGER)
                 AS stage_reached
        FROM c GROUP BY user_id
    """
    # pagerank / cohort: CTE replays generated by operators.graph
    # itself (the sketches pattern) — fixed iterations unrolled,
    # ordered list_reduce folds for bit-identical doubles
    from vision_parse_spark.operators.graph import (
        cohort_retention_sql, transition_pagerank_sql)
    out["event_pagerank"] = transition_pagerank_sql(0.85, 5)
    out["cohort_retention"] = cohort_retention_sql()
    from vision_parse_spark.operators.sketches import hist_quantiles_sql
    _lq_est = hist_quantiles_sql("length(text)", "documents",
                                 _LQ_PROBS, 64)
    _lq_probs = ", ".join(f"CAST({p} AS DOUBLE)" for p in _LQ_PROBS)
    _lq_list = ", ".join(str(p) for p in _LQ_PROBS)
    out["length_quantiles"] = f"""
        WITH est AS ({_lq_est}),
        exa AS (
          SELECT quantile_cont(length(text), [{_lq_list}]) AS qs
          FROM documents),
        ex AS (
          SELECT unnest([{_lq_probs}]) AS prob,
                 round(unnest(qs), 4) AS exact
          FROM exa)
        SELECT est.prob, est.k, est.est, ex.exact
        FROM est JOIN ex USING (prob)
    """
    out["vocab_growth"] = r"""
        WITH toks AS (
          SELECT source, list_filter(string_split_regex(
                   lower(trim(text)), '\s+'), x -> x != '') AS t
          FROM documents),
        first AS (
          SELECT tok, min(source) AS g FROM (
            SELECT source,
                   unnest(list_transform(range(len(t) - 2),
                     i -> array_to_string(t[i + 1 : i + 3], ' ')))
                     AS tok
            FROM toks WHERE len(t) >= 3)
          GROUP BY tok),
        pg AS (SELECT g, count(*) AS new_types FROM first GROUP BY g)
        SELECT g AS source, new_types,
               CAST(sum(new_types) OVER (ORDER BY g
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_vocab
        FROM pg
    """
    out["dialog_integrity"] = """
        WITH t AS (
          SELECT source AS conv_id,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY doc_id) - 1 AS turn_idx,
                 CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
                   AS h
          FROM documents),
        r AS (
          SELECT conv_id, turn_idx,
                 CASE WHEN (turn_idx + CASE WHEN h % 7 = 0 THEN 1
                                            ELSE 0 END) % 2 = 0
                      THEN 'user' ELSE 'assistant' END AS role
          FROM t),
        l AS (
          SELECT conv_id, role,
                 lag(role) OVER (PARTITION BY conv_id
                                 ORDER BY turn_idx) AS prev
          FROM r),
        a AS (
          SELECT conv_id, count(*) AS n_turns,
                 CAST(max(CASE WHEN prev IS NULL THEN
                     CAST(role = 'user' AS INTEGER) END) AS INTEGER)
                   AS starts_ok,
                 CAST(sum(coalesce(CAST(role = prev AS INTEGER), 0))
                      AS BIGINT) AS n_violations
          FROM l GROUP BY conv_id)
        SELECT conv_id, n_turns, starts_ok, n_violations,
               CAST(n_violations = 0 AS INTEGER) AS alternation_ok
        FROM a
    """
    # leak-safe split: same transitive-closure clustering as
    # dup_clusters, then the hash_split bucket taken on the cluster
    # representative (coalesce to own id for singletons)
    out["leak_safe_split"] = f"""
        WITH RECURSIVE {_mh_pairs_cte()},
        sym AS (SELECT id_a AS a, id_b AS b FROM ver
                UNION SELECT id_b, id_a FROM ver),
        reach AS (
          SELECT a, b FROM sym
          UNION
          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        ),
        cc AS (
          SELECT a AS doc_id, least(a, min(b)) AS cluster_id
          FROM reach GROUP BY a)
        SELECT d.doc_id,
               coalesce(cc.cluster_id, d.doc_id) AS rep_id,
               CASE WHEN CAST(('0x' || substring(md5(CAST(
                        coalesce(cc.cluster_id, d.doc_id) AS VARCHAR)),
                        1, 15)) AS BIGINT) % 1000 < 800
                    THEN 'train' ELSE 'test' END AS split
        FROM documents d LEFT JOIN cc USING (doc_id)
    """
    # tokenizer fertility: the bpe_encode chain's w12 vocabulary
    # joined onto per-doc word streams, collapsed per source; counts
    # are exact integer sums, ratios single double divisions
    out["bpe_fertility"] = ("WITH " + _bpe_ctes(12) + r""",
        dt AS (
          SELECT doc_id, source, ws[u.j + 1] AS word
          FROM (SELECT doc_id, source,
                       list_filter(string_split_regex(
                         lower(trim(text)), '\s+'), x -> x != '')
                         AS ws
                FROM documents),
               unnest(range(len(ws))) AS u(j)),
        pw AS (
          SELECT dt.doc_id,
                 count(*) AS w,
                 CAST(sum(length(word)) AS BIGINT) AS c,
                 CAST(sum(len(syms)) AS BIGINT) AS p
          FROM dt JOIN w12 USING (word) GROUP BY dt.doc_id),
        per AS (
          SELECT d.source, coalesce(w, 0) AS w, coalesce(c, 0) AS c,
                 coalesce(p, 0) AS p
          FROM documents d LEFT JOIN pw USING (doc_id))
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(w) AS BIGINT) AS n_words,
               CAST(sum(c) AS BIGINT) AS n_chars,
               CAST(sum(p) AS BIGINT) AS n_pieces,
               round(CAST(sum(p) AS BIGINT)
                     / nullif(CAST(sum(w) AS BIGINT), 0), 6)
                 AS pieces_per_word,
               round(CAST(sum(c) AS BIGINT)
                     / nullif(CAST(sum(p) AS BIGINT), 0), 6)
                 AS chars_per_piece
        FROM per GROUP BY source""")
    # script_profile: same md5 % 4 suffix injection (base64-built
    # unicode, the nfc_normalize precedent); explicit code-point
    # ranges so RE2 and java.util.regex count identically; dominant =
    # first script reaching the max (the operator's strict-> chain)
    _SCRIPT_SQL = [
        ("latin", "[A-Za-zÀ-ɏ]"), ("cyrillic", "[Ѐ-ӿ]"),
        ("greek", "[Ͱ-Ͽ]"), ("arabic", "[؀-ۿ]"),
        ("hebrew", "[֐-׿]"), ("devanagari", "[ऀ-ॿ]"),
        ("cjk", "[一-鿿]"), ("kana", "[぀-ヿ]"),
        ("hangul", "[가-힯]"),
    ]
    _counts = ",\n                 ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT)"
        f" AS n_{name}" for name, pat in _SCRIPT_SQL)
    _gmax = "greatest(" + ", ".join(
        f"n_{name}" for name, _ in _SCRIPT_SQL) + ")"
    _dom = "CASE WHEN " + _gmax + " = 0 THEN 'none' " + " ".join(
        f"WHEN n_{name} = {_gmax} THEN '{name}'"
        for name, _ in _SCRIPT_SQL) + " END"
    out["script_profile"] = f"""
        WITH a AS (
          SELECT doc_id,
                 substring(text, 1, 60) || ' ' ||
                 CASE CAST(('0x' || substring(md5(text), 1, 15))
                           AS BIGINT) % 4
                   WHEN 0 THEN decode(from_base64(
                     '0J/RgNC40LLQtdGCINC80LjRgA=='))
                   WHEN 1 THEN decode(from_base64(
                     '5L2g5aW95LiW55WM'))
                   WHEN 2 THEN decode(from_base64(
                     '2YXYsdit2KjYpw=='))
                   ELSE '' END AS t
          FROM documents),
        c AS (
          SELECT doc_id,
                 {_counts}
          FROM a)
        SELECT *, {_dom} AS dominant_script FROM c
    """
    out["sentence_dedup"] = r"""
        WITH a AS (
          SELECT doc_id,
                 text || '. ' || substring(text, 1, 50) || '. '
                      || substring(text, 1, 50) || '!' AS t
          FROM documents),
        s AS (
          SELECT doc_id,
                 list_filter(list_transform(
                   string_split_regex(t, '[.!?]+(\s+|$)'),
                   x -> trim(x)), x -> x != '') AS sents
          FROM a)
        SELECT doc_id,
               CAST(len(sents) AS BIGINT) AS n_sentences,
               CAST(len(list_filter(sents, (x, i) ->
                 list_position(sents[1:i-1], x) = 0))
                 AS BIGINT) AS n_unique,
               coalesce(array_to_string(list_filter(sents, (x, i) ->
                 list_position(sents[1:i-1], x) = 0), ' '), '')
                 AS dedup_text
        FROM s
    """
    out["exact_substring_hits"] = """
        SELECT d.doc_id, f.frag_id
        FROM documents d
        JOIN (SELECT doc_id AS frag_id,
                     substring(text, 20, 40) AS fragment
              FROM documents WHERE doc_id < 5) f
          ON contains(d.text, f.fragment)
    """
    out["source_divergence"] = r"""
        WITH tk AS (
          SELECT source AS g,
                 unnest(list_filter(string_split_regex(
                   lower(trim(text)), '\s+'), x -> x != '')) AS tok
          FROM documents),
        st AS (SELECT g, tok, count(*) AS c FROM tk GROUP BY g, tok),
        corpus AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cc
                   FROM st GROUP BY tok),
        topk AS (SELECT tok, cc FROM corpus
                 ORDER BY cc DESC, tok ASC LIMIT 20),
        nn AS (SELECT CAST(sum(cc) AS BIGINT) AS n FROM corpus),
        pr AS (
          SELECT tok, CAST(cc AS DOUBLE)
                      / (SELECT CAST(n AS DOUBLE) FROM nn) AS p
          FROM topk
          UNION ALL
          SELECT chr(1) || 'other',
                 CAST((SELECT n FROM nn)
                      - (SELECT CAST(sum(cc) AS BIGINT) FROM topk)
                      AS DOUBLE)
                 / (SELECT CAST(n AS DOUBLE) FROM nn)),
        coarse AS (
          SELECT g,
                 CASE WHEN tok IN (SELECT tok FROM topk) THEN tok
                      ELSE chr(1) || 'other' END AS tok,
                 CAST(sum(c) AS BIGINT) AS c
          FROM st GROUP BY 1, 2),
        pg AS (
          SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                 list(struct_pack(tok := coarse.tok, c := c, p := pr.p)
                      ORDER BY coarse.tok) AS terms
          FROM coarse JOIN pr ON pr.tok = coarse.tok
          GROUP BY g)
        SELECT g AS source, n_tokens,
               round(list_reduce(list_transform(terms, t ->
                 (CAST(t.c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 * ln((CAST(t.c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                      / t.p)), (x, y) -> x + y), 6) AS kl_vs_corpus
        FROM pg
    """
    out["lexical_diversity"] = r"""
        WITH d AS (
          SELECT doc_id,
                 list_filter(string_split_regex(
                   lower(trim(coalesce(text, ''))), '\s+'),
                   x -> x != '') AS ts
          FROM documents),
        c AS (
          SELECT doc_id,
                 CAST(len(ts) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(ts)) AS BIGINT) AS n_types,
                 CAST(len(list_filter(list_distinct(ts), t ->
                   len(list_filter(ts, x -> x = t)) = 1))
                   AS BIGINT) AS n_hapax
          FROM d)
        SELECT doc_id, n_tokens, n_types, n_hapax,
               round(n_types / nullif(n_tokens, 0), 6) AS ttr,
               round(n_hapax / nullif(n_tokens, 0), 6)
                 AS hapax_ratio
        FROM c
    """
    out["burst_detection"] = """
        WITH per AS (
          SELECT epoch_us(ts) // 3600000000 AS bucket_start,
                 count(*) AS n_events
          FROM events WHERE ts IS NOT NULL
          GROUP BY 1),
        st AS (
          SELECT sum(n_events) AS s,
                 sum(n_events * n_events) AS ss,
                 count(*) AS k
          FROM per)
        SELECT bucket_start, n_events,
               round((CAST(n_events AS DOUBLE)
                      - CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
                     / sqrt(nullif(
                        (CAST(ss AS DOUBLE)
                         - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                           / CAST(k AS DOUBLE)) / CAST(k AS DOUBLE),
                        CAST(0 AS DOUBLE))), 4) AS z,
               CAST(coalesce(
                 (CAST(n_events AS DOUBLE)
                  - CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
                 / sqrt(nullif(
                    (CAST(ss AS DOUBLE)
                     - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / CAST(k AS DOUBLE)) / CAST(k AS DOUBLE),
                    CAST(0 AS DOUBLE)))
                 > CAST(3 AS DOUBLE), FALSE) AS INTEGER) AS is_burst
        FROM per CROSS JOIN st
    """
    out["keyword_extract"] = r"""
        WITH tf AS (
          SELECT doc_id, tok AS term, count(*) AS tf FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(
                     lower(trim(text)), '\s+'), x -> x != '')) AS tok
            FROM documents)
          GROUP BY doc_id, tok),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 round(tf.tf * ln((SELECT CAST(count(*) AS DOUBLE)
                                   FROM documents) / dfreq.df), 6)
                   AS tfidf
          FROM tf JOIN dfreq USING (term))
        SELECT doc_id, term, tfidf, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored)
        WHERE rank <= 3
    """
    out["flesch_kincaid"] = r"""
        WITH c AS (
          SELECT doc_id,
                 greatest(CAST(1 AS BIGINT),
                   CAST(len(list_filter(string_split_regex(
                     lower(trim(text)), '\s+'), x -> x != ''))
                     AS BIGINT)) AS n_words,
                 greatest(CAST(1 AS BIGINT),
                   CAST(len(regexp_extract_all(lower(trim(text)),
                     '[.!?]+')) AS BIGINT)) AS n_sentences,
                 CAST(len(regexp_extract_all(lower(trim(text)),
                   '[aeiouy]+')) AS BIGINT) AS n_syllables
          FROM documents)
        SELECT doc_id, n_words, n_sentences, n_syllables,
               round(CAST(0.39 AS DOUBLE) * (n_words / n_sentences)
                     + CAST(11.8 AS DOUBLE) * (n_syllables / n_words)
                     - CAST(15.59 AS DOUBLE), 4) AS fk_grade
        FROM c
    """
    # NFC: same in-engine input construction (base64 -> U+0301), then
    # DuckDB's utf8proc NFC vs pandas str.normalize — both UAX #15
    out["nfc_normalize"] = """
        WITH r AS (
          SELECT doc_id,
                 substring(text, 1, 30) || 'Cafe'
                   || decode(from_base64('zIE=')) AS raw
          FROM documents)
        SELECT doc_id,
               nfc_normalize(raw) AS text_nfc,
               CAST(nfc_normalize(raw) != raw AS INTEGER) AS changed,
               length(raw) - length(nfc_normalize(raw))
                 AS delta_chars
        FROM r
    """
    return out
