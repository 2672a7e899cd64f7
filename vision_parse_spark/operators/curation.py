"""End-to-end corpus curation — the composition the engine exists for.

One call chains the canonical training-data gates in their standard
order (cheap narrow filters first, the shuffling dedup last, the
rewrite at the end):

    quality gate        narrow Catalyst (length + stopword ratio)
      -> repetition gate  dup-line / top-bigram fractions
      -> near-dedup       MinHash+LSH survivor set
      -> PII scrub        regexp_replace chain on the survivors

Every stage is individually oracled (`quality_score`,
`repetition_stats`, `minhash_dedup`, `scrub_pii` contract queries);
``curate`` is their composition and is oracled as such — DuckDB
replays the full pipeline end to end.

Scale notes: the gates are one featurization pass.  The Catalyst
quality filter runs first; one Arrow kernel then tokenizes each
surviving doc ONCE and returns its bigram census and its md5 MinHash
signature (the construction the DuckDB oracle replays step for step);
the duplicate-line threshold joins the quality filter before it and
one filter after it applies the top-bigram threshold; the gated
``(id, text, sig)`` relation is checkpointed once.  The LSH stage
(the only heavy exchange) reads that checkpoint, so it signs nothing
again, and everything after it is lazy: banding, the bucket
self-join, the verify and the scrub (a codegen'd Project over dedup
survivors only) run in the sink's own jobs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..functions.scrub import scrub_pii
from ..functions.text_stats import java_ws_tokens
from ..session import spread
from .dedup import (_lsh_pairs, _without_losers, minhash_signatures,
                    shingles_of)
from .repetition import (bigram_census, dup_line_frac_col, lines_col,
                         top_bigram_frac_col)

# the standalone forms of curate's stages, importable from here under
# the names perfbench's traced run wraps
from .dedup import minhash_dedup  # noqa: F401
from .repetition import repetition_stats  # noqa: F401

# the MinHash construction ``minhash_dedup`` defaults to
_NUM_PERM, _BANDS, _SHINGLE_N = 32, 16, 3


def quality_e4_col(text_col: str = "text") -> Column:
    """Quality score in 1e-4 units as a LONG (floor keeps the value
    bit-identical across engines; round() differs at half-way points).
    Same construction as the `quality_score` contract query."""
    n_tok = F.size(F.regexp_extract_all(text_col,
                                        F.lit("[A-Za-z0-9]+"), 0))
    n_stop = F.size(F.regexp_extract_all(
        F.lower(text_col),
        F.lit(r"\b(?:the|a|an|and|or|of|to|in|is|it)\b"), 0))
    len_ok = F.least(F.length(text_col) / 200.0, F.lit(1.0))
    stop_ok = F.least(n_stop / n_tok / 0.2, F.lit(1.0))
    return F.floor((len_ok * 0.5 + stop_ok * 0.5) * 10000).cast("long")


def _gate_features_udf():
    """Arrow kernel of the gate pass: each doc is tokenized ONCE with
    ``java_ws_tokens``; returns ``(bigram_top, bigram_total, sig)`` —
    the :func:`~.repetition.bigram_census` and the
    :func:`~.dedup.minhash_signatures` of the doc's shingles, the same
    integers ``repetition_stats`` and ``make_minhash_udf`` give."""

    @F.pandas_udf(StructType([
        StructField("bigram_top", LongType()),
        StructField("bigram_total", LongType()),
        StructField("sig", ArrayType(LongType())),
    ]))
    def gate_features(texts: pd.Series) -> pd.DataFrame:
        toks = [java_ws_tokens(t) for t in texts.fillna("")]
        census = [bigram_census(t) for t in toks]
        out = pd.DataFrame(census, columns=["bigram_top", "bigram_total"],
                           index=texts.index)
        out["sig"] = pd.Series(minhash_signatures(
            [shingles_of(t, _SHINGLE_N) for t in toks], _NUM_PERM),
            index=texts.index, dtype=object)
        return out

    # guide §4.4: the repetition filter reads this struct; a
    # deterministic UDF would be inlined into the pushed-down filter
    # and evaluated twice
    return gate_features.asNondeterministic()


def _gated(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality_e4: int,
    max_dup_line_frac: float,
    max_top_bigram_frac: float,
) -> DataFrame:
    """``(id_col, text_col, sig)`` of the documents that pass the
    quality and repetition gates, ``sig`` their MinHash signature:
    ONE Catalyst filter (quality score and duplicate-line fraction),
    then ONE projection (the gate kernel, which only sees the docs that
    filter keeps) and ONE filter (top-bigram fraction), each threshold
    applied with ``repetition_stats``' expressions; materialized ONCE:
    the stages after the gates re-read it (the LSH self-join sides and
    verify; decontamination's gram stream and anti-join back).
    localCheckpoint (not persist) so the context cleaner reclaims it
    on GC."""
    n_tok = F.size(F.regexp_extract_all(text_col,
                                        F.lit("[A-Za-z0-9]+"), 0))
    feats = _gate_features_udf()
    gated = (
        df.filter((n_tok > 0)
                  & (quality_e4_col(text_col) >= min_quality_e4)
                  & (dup_line_frac_col(lines_col(text_col))
                     <= max_dup_line_frac))
        .select(id_col, text_col, feats(F.col(text_col)).alias("_f"))
        .filter(top_bigram_frac_col(F.col("_f.bigram_top"),
                                    F.col("_f.bigram_total"))
                <= max_top_bigram_frac)
        .select(id_col, text_col, F.col("_f.sig").alias("sig"))
    )
    return gated.localCheckpoint(eager=True)


def _near_dup_survivors(signed: DataFrame, id_col: str, text_col: str,
                        jaccard_threshold: float) -> DataFrame:
    """``(id_col, text_col)`` of a gated, signed checkpoint minus the
    larger id of every verified near-dup pair: ``minhash_dedup`` with
    its default construction, over signatures already computed."""
    pairs = _lsh_pairs(signed, id_col, text_col, _NUM_PERM, _BANDS,
                       _SHINGLE_N, jaccard_threshold)
    return _without_losers(signed.select(id_col, text_col), pairs,
                           id_col)


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality_e4: int = 5000,
    max_dup_line_frac: float = 0.3,
    max_top_bigram_frac: float = 0.2,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Curated corpus: (id, scrubbed text) for documents passing the
    quality, repetition, and near-dup gates.

    Gate-first semantics: the near-dedup runs over the GATED corpus,
    so the duplicate-cluster representative is the min id among
    gate-passing docs (a cluster whose min-id member fails quality
    still keeps one surviving representative — the standard
    filter-then-dedup order).

    ``df`` goes through :func:`~vision_parse_spark.session.spread`
    once, before the gates' per-row regexes; the nested repetition
    and LSH stages apply the same policy to what they read, which
    adds no second exchange over an input that is already spread.

    One eager job (the gated checkpoint); the near-dedup and the scrub
    are lazy and run in the caller's action."""
    gated = _gated(spread(df), id_col, text_col, min_quality_e4,
                   max_dup_line_frac, max_top_bigram_frac)
    return scrub_pii(
        _near_dup_survivors(gated, id_col, text_col, jaccard_threshold),
        text_col)


def curate_full(
    df: DataFrame,
    eval_df: DataFrame,
    embeddings: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_quality_e4: int = 5000,
    max_dup_line_frac: float = 0.3,
    max_top_bigram_frac: float = 0.2,
    decon_n: int = 5,
    decon_min_hits: int = 2,
    sem_k: int = 8,
    sem_iters: int = 2,
    sem_threshold: float = 0.3,
    jaccard_threshold: float = 0.5,
    span_n: int = 3,
    span_max_df: int = 3,
) -> DataFrame:
    """The FULL curation composition — every dedup/cleaning family the
    engine implements, chained in the order a real pretraining
    pipeline runs them (gates first, broadcast-side checks next,
    shuffling dedups over the pruned corpus, the rewrite passes last):

        quality gate          narrow Catalyst filter
        -> repetition gate    dup-line / top-bigram fractions
        -> decontamination    eval n-grams BROADCAST, corpus never
                              shuffles for it
        -> SemDeDup           KMeans cells + tiled-matmul verify over
                              the gated docs' embeddings (Abbas 2023)
        -> MinHash near-dedup LSH banding, md5 signatures
        -> span removal       Lee-et-al frequent-span cut (rewrites
                              the text to normalized token space)
        -> PII scrub          one codegen'd Project

    ``embeddings`` rows join ``df`` on ``vec_id_col == id_col`` (the
    synthetic tables share the id space; in production the embedding
    table is keyed by the same doc id).  A document with NO embedding
    row passes the SemDeDup stage untouched — the stage can only DROP
    verified semantic near-dups, never lose coverage, so the survivor
    set is computed as an anti-join against the dropped ids rather
    than a semi-join against the kept ids.  Returns ``(id_col,
    text_col)`` with the span-cut, scrubbed text of every surviving
    document.

    Scale shape: each gate prunes BEFORE the next stage's shuffle;
    the two heavy exchanges (SemDeDup cell join, LSH banding) read
    only gate+decon survivors; the span doc-frequency aggregate runs
    over dedup survivors only; everything else is narrow or
    broadcast.  Every stage is individually oracled — this query
    proves the seven-stage composition end to end.  ``df`` and
    ``embeddings`` go through :func:`~vision_parse_spark.session.spread`
    at entry, as in :func:`curate`."""
    from .clustering import semdedup
    from .decontaminate import decontaminate
    from .spans import remove_frequent_spans

    df, embeddings = spread(df), spread(embeddings)
    # gated rows carry their MinHash signature through decontamination
    # and SemDeDup to the LSH stage
    gated = _gated(df, id_col, text_col, min_quality_e4,
                   max_dup_line_frac, max_top_bigram_frac)
    decon = decontaminate(gated, eval_df, id_col, text_col,
                          n=decon_n, min_hits=decon_min_hits)
    # one barrier: SemDeDup (k+1 scans for Lloyd), the LSH dedup
    # (3 reads) and the span pass all re-read this relation.
    # localCheckpoint truncates the already-long composed lineage
    # (keeps Catalyst planning O(stage), not O(pipeline)); on a real
    # cluster an executor loss before the final action forces a
    # re-run from this barrier, the standard localCheckpoint trade.
    decon = decon.localCheckpoint(eager=True)

    sub_emb = embeddings.join(
        decon.select(F.col(id_col).alias(vec_id_col)),
        vec_id_col, "left_semi")
    sem_keep = semdedup(sub_emb, k=sem_k, iters=sem_iters,
                        threshold=sem_threshold, id_col=vec_id_col,
                        vec_col=vec_col)
    # dropped = gated embeddings minus survivors; anti-join so docs
    # WITHOUT an embedding row pass through (the stage only drops
    # verified near-dups, it never gates on embedding coverage)
    sem_dropped = sub_emb.select(vec_id_col).join(
        sem_keep, vec_id_col, "left_anti")
    sem_surv = decon.join(
        sem_dropped.select(F.col(vec_id_col).alias(id_col)),
        id_col, "left_anti")
    # the LSH dedup reads its input 3x (both self-join sides + the
    # verify) and the span pass re-reads survivors: barrier once
    sem_surv = sem_surv.localCheckpoint(eager=True)

    deduped = _near_dup_survivors(sem_surv, id_col, text_col,
                                  jaccard_threshold)
    cut = remove_frequent_spans(deduped, n=span_n, max_df=span_max_df,
                                id_col=id_col, text_col=text_col)
    return scrub_pii(
        cut.select(id_col, F.col("clean_text").alias(text_col)),
        text_col)
