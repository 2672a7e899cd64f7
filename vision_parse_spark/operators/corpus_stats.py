"""Corpus-level n-gram statistics for training-data pipelines.

Not present in the reference (it has no corpus-level ops): vocabulary
and n-gram frequency profiles drive contamination analysis, filter
threshold tuning and tokenizer audits over a training corpus.

Scale design (100 TB): the plan is
``scan -> Generate(explode) -> partial hash agg (map-side combine) ->
one shuffle on the ngram -> final agg -> TakeOrderedAndProject`` —
Spark's global top-k runs a per-partition bounded heap and merges k
rows per partition on the driver, so no global sort of the distinct
n-gram set ever happens (asserted in tests/test_plan_shapes.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from vision_parse_spark.functions.text_stats import ws_tokens
from vision_parse_spark.session import spread


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text"
              ) -> DataFrame:
    """BM25 lexical retrieval (Robertson/Sparck Jones idf, the
    standard ``ln(1 + (N - df + 0.5)/(df + 0.5))`` variant): top-``k``
    docs for a bag of query terms, fully Catalyst — no UDF.

    Scale shape (100 TB): term frequencies come from ONE explode
    filtered to the query's terms before the aggregation (so the
    shuffled volume is per-(query-term, doc), not per-token); document
    frequencies aggregate from that same tf relation and broadcast
    back; corpus stats (N, avgdl) broadcast as a 1-row cross join; the
    final top-k is a bounded TakeOrderedAndProject.  Ranking uses the
    4-decimal-rounded score with an id tie-break so the order is
    reproducible across engines (raw float sums differ at ~1e-12 by
    association order)."""
    terms = sorted({t.lower() for t in query_terms})
    toks = ws_tokens(text_col)
    d = (df.select(id_col, toks.alias("_toks"))
         .withColumn("dl", F.size("_toks")))
    stats = d.agg(F.count(F.lit(1)).alias("n_docs"),
                  F.avg("dl").alias("avgdl"))
    tf = (
        d.select(id_col, "dl", F.explode("_toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct(id_col).alias("df_t"))
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5)
        / (F.col("df_t") + 0.5) + 1.0)
    denom = (F.col("tf")
             + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", idf * F.col("tf") * (k1 + 1.0) / denom)
        .groupBy(id_col)
        .agg(F.round(F.sum("_s"), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def build_postings(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_df: int = 1) -> DataFrame:
    """Inverted-index posting lists: one row per term with its
    document frequency, corpus term frequency and the posting list
    itself — ``doc_id:tf`` pairs sorted by doc id, rendered as a
    string so the layout is engine-portable (struct-array rendering
    is not).

    Scale shape (100 TB): explode -> (term, doc) map-side-combined
    count -> ONE shuffle on the term for the sorted collect; terms
    below ``min_df`` are pruned AFTER the per-term agg so the filter
    sees the already-combined relation.  Posting lists of web-scale
    stopwords are long — at the 100 TB tier you'd shard the hottest
    terms (term, shard) before the collect; the df/tf columns here
    are exactly the statistics that pick those terms.
    """
    toks = ws_tokens(text_col)
    tf = (spread(df).select(F.col(id_col), F.explode(toks).alias("term"))
            .groupBy("term", id_col)
            .agg(F.count(F.lit(1)).alias("tf")))
    posting = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col(id_col).alias("d"),
                                                 F.col("tf").alias("t")))),
            lambda s: F.concat_ws(":", s["d"].cast("string"),
                                  s["t"].cast("string"))))
    return (tf.groupBy("term")
              .agg(F.count(F.lit(1)).alias("doc_freq"),
                   F.sum("tf").alias("term_freq"),
                   posting.alias("postings"))
              .filter(F.col("doc_freq") >= min_df))


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    alpha: float = 1.0) -> DataFrame:
    """Corpus-relative unigram log-likelihood per document — the
    cheap LM quality signal (CCNet scores against an external LM; the
    self-trained unigram variant needs no model artifact and flags
    the same outliers: gibberish scores low, stuffed/repetitive text
    scores suspiciously high).

    ``avg_logprob = mean_w ln((c_w + alpha) / (N + alpha * V))``
    with add-``alpha`` smoothing over the corpus's own counts
    (``c_w`` corpus count, ``N`` total tokens, ``V`` vocab size).

    Scale shape (100 TB): the natural two-pass LM shape — a TRAIN
    pass (explode -> map-side-combined term counts, the only full
    shuffle, checkpointed so the relation is computed once) and a
    SCORE pass (the second corpus scan re-explodes and joins the
    broadcast counts; the 1-row (N, V) stats are collected off the
    checkpointed counts and folded into the expression as driver
    literals, so no stats branch re-runs the shuffle).  A web-scale
    vocab is millions of rows — still broadcast-sized; shard the
    join if not.

    Scores round to 4 decimals.  Determinism analysis: each doc's
    tokens live in one input row, so its partial sum comes from one
    map partition — no partition-merge-order float drift run to
    run.  Cross-engine, ln can differ in the last ulp; that flips
    the 4th decimal only within ~1e-12 of a .00005 boundary
    (~1e-11 per doc — the bm25 precedent ships the same analysis).
    """
    toks = ws_tokens(text_col)
    terms = (spread(df).select(F.col(id_col), F.explode(toks).alias("term")))
    counts = (terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
                   .localCheckpoint(eager=True))
    n_total, v = counts.agg(F.sum("c"), F.count(F.lit(1))).first()
    if n_total is None:
        # zero tokens in the whole corpus: sum over the empty counts
        # relation is NULL — scoring against a zero-token LM is
        # undefined, so fail loudly instead of float(None) crashing
        raise ValueError(
            "unigram_logprob: empty corpus (no tokens after the "
            "ws_tokens normalization) — nothing to train the LM on")
    logp = F.log((F.col("c") + F.lit(alpha))
                 / (F.lit(float(n_total)) + F.lit(alpha) * F.lit(float(v))))
    return (terms.join(F.broadcast(counts), "term")
                 .groupBy(id_col)
                 .agg(F.count(F.lit(1)).alias("n_tok"),
                      F.round(F.avg(logp), 4).alias("avg_logprob")))


def top_ngrams(df: DataFrame, text_col: str = "text", n: int = 3,
               k: int = 50) -> DataFrame:
    """Top-``k`` word ``n``-grams by corpus frequency (every
    occurrence counts — NOT distinct-per-doc), deterministic
    tie-break on the gram itself.  Tokenization is the shared
    :func:`ws_tokens` recipe (lower/trim/split ``\\s+``/drop empty
    tokens) used across the dedup family — previously this inlined
    the split WITHOUT the empty filter, so an empty/whitespace-only
    doc contributed ``''`` as a unigram at ``n=1`` (round-5 advice);
    the DuckDB oracle replays the filtered recipe exactly.

    Gram generation runs through the Arrow kernel
    (:func:`~vision_parse_spark.functions.text_stats.word_ngrams_udf`
    — string-identical grams; the interpreted Catalyst slice lambda
    it replaces dominated the scan)."""
    from vision_parse_spark.functions.text_stats import word_ngrams_udf

    grams = word_ngrams_udf(n)
    return (
        spread(df).select(F.explode(grams(F.col(text_col))).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("ngram"))
        .limit(k)
    )


def perplexity_buckets(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", alpha: float = 1.0
                       ) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3):
    every document lands in a ``head`` / ``middle`` / ``tail`` bucket
    by LM quality — CCNet keeps head+middle for pretraining and
    shards the corpus by bucket.  The LM is the self-trained add-one
    unigram model from :func:`unigram_logprob` (CCNet uses an
    external KenLM; the self-trained signal ranks the same outliers
    and needs no model artifact), so HIGHER ``avg_logprob`` = lower
    perplexity = better bucket.

    Cutoffs are DISCRETE rank statistics, not interpolated
    percentiles: with ``n`` scored docs sorted by score descending,
    ``c1`` is the score of the ``ceil(n/3)``-th doc and ``c2`` of the
    ``ceil(2n/3)``-th; ``head`` = score >= c1, ``middle`` = score >=
    c2, else ``tail``.  Ties at a cutoff all take the better bucket.
    Interpolated cutoffs would be engine-specific float arithmetic
    deciding set membership — the repo-wide determinism rule; rank
    cutoffs are actual (4-decimal-rounded) data values, so the
    assignment replays bit-identically on any engine.

    Scale shape (100 TB): the scored relation is the unigram
    two-pass LM (one full shuffle), checkpointed; the cutoffs come
    from a score HISTOGRAM — a map-side-combined groupBy on the
    4-decimal-rounded score, a bounded key (the score range spans a
    few thousand distinct values) — collected to the driver and
    folded back as two literals; the bucket label is then one
    narrow whole-stage-codegen Project.  No global sort, no window
    over the corpus.

    Returns ``(id_col, n_tok, avg_logprob, pp_bucket)``, one row per
    doc with >= 1 token (token-less docs have no LM score — same
    grain as :func:`unigram_logprob`).
    """
    import math

    scored = unigram_logprob(df, id_col=id_col, text_col=text_col,
                             alpha=alpha).localCheckpoint(eager=True)
    hist = (scored.groupBy("avg_logprob")
                  .agg(F.count(F.lit(1)).alias("c"))
                  .orderBy(F.desc("avg_logprob"))
                  .collect())
    n = sum(r.c for r in hist)
    k1, k2 = math.ceil(n / 3), math.ceil(2 * n / 3)
    cum, c1, c2 = 0, None, None
    for r in hist:
        cum += r.c
        if c1 is None and cum >= k1:
            c1 = r.avg_logprob
        if c2 is None and cum >= k2:
            c2 = r.avg_logprob
    bucket = (F.when(F.col("avg_logprob") >= F.lit(c1), "head")
               .when(F.col("avg_logprob") >= F.lit(c2), "middle")
               .otherwise("tail"))
    return scored.withColumn("pp_bucket", bucket)


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", alpha: float = 1.0,
                   lam: float = 0.75) -> DataFrame:
    """Interpolated bigram LM log-likelihood per document — one rung
    up from :func:`unigram_logprob` toward the KenLM scoring CCNet
    uses: repeated-phrase stuffing that fools a unigram model (all
    high-frequency words) still scores low when its word ORDER never
    occurs in the corpus.

    Per token: the first token scores the add-``alpha`` unigram
    ``P_u(w) = (c_w + a) / (N + aV)``; every later token scores the
    Jelinek-Mercer interpolation
    ``ln(lam * c(p,w)/c(p) + (1-lam) * P_u(w))`` with the MLE
    conditional over corpus bigram counts (``c(p)`` is the corpus
    unigram count of the context — its count as a "previous token"
    differs only by each doc's final token; the unigram form keeps
    the model one count relation smaller) and the unigram as the
    unseen-bigram floor.  ``lam`` defaults to 0.75 — an EXACT BINARY
    fraction, so the interpolation arithmetic is bit-identical
    across engines (the resample_mixture precedent); only ``ln``
    differs in the last ulp, bounded exactly as unigram_logprob's
    docstring analyses.  Scores round to 4 decimals.

    Scale shape (100 TB): TRAIN = two map-side-combined count aggs
    (unigram + bigram; the bigram relation is the big one — for a
    web-scale corpus shard the score join instead of broadcasting);
    SCORE = one re-scan exploding (prev, cur) pairs joined against
    the broadcast counts; (N, V) fold in as driver literals off the
    checkpointed unigram counts.  Each doc's pair rows stay in one
    map partition (explode of one row, broadcast joins), so the
    per-doc avg is one partial — no merge-order float drift.

    Returns ``(id_col, n_tok, avg_logprob)`` for docs with >= 1
    token.
    """
    toks = ws_tokens(text_col)
    base = (spread(df).select(F.col(id_col), toks.alias("_t"))
              .filter(F.size("_t") > 0))

    uni = (base.select(F.explode("_t").alias("term"))
               .groupBy("term").agg(F.count(F.lit(1)).alias("c"))
               .localCheckpoint(eager=True))
    n_total, v = uni.agg(F.sum("c"), F.count(F.lit(1))).first()
    if n_total is None:
        raise ValueError(
            "bigram_logprob: empty corpus (no tokens after the "
            "ws_tokens normalization) — nothing to train the LM on")

    pairs_expr = ("transform(sequence(1, size(_t) - 1), "
                  "i -> struct(element_at(_t, i) as prev, "
                  "element_at(_t, i + 1) as cur))")
    big = (base.filter(F.size("_t") >= 2)
               .select(F.explode(F.expr(pairs_expr)).alias("_p"))
               .groupBy(F.col("_p.prev").alias("prev"),
                        F.col("_p.cur").alias("cur"))
               .agg(F.count(F.lit(1)).alias("cb")))

    tok_expr = ("transform(sequence(0, size(_t) - 1), "
                "i -> struct(element_at(_t, i + 1) as cur, "
                "case when i = 0 then null else element_at(_t, i) end"
                " as prev))")
    stream = (base.select(F.col(id_col),
                          F.explode(F.expr(tok_expr)).alias("_w"))
                  .select(id_col, "_w.cur", "_w.prev"))

    denom = F.lit(float(n_total)) + F.lit(alpha) * F.lit(float(v))
    scored = (stream
              .join(F.broadcast(uni.withColumnRenamed("term", "cur")
                                   .withColumnRenamed("c", "c_cur")), "cur")
              .join(F.broadcast(uni.withColumnRenamed("term", "prev")
                                   .withColumnRenamed("c", "c_prev")),
                    "prev", "left")
              .join(F.broadcast(big), ["prev", "cur"], "left"))
    p_uni = (F.col("c_cur") + F.lit(alpha)) / denom
    lp = F.when(F.col("prev").isNull(), F.log(p_uni)).otherwise(
        F.log(F.lit(lam) * F.coalesce(F.col("cb"), F.lit(0))
              / F.col("c_prev") + F.lit(1.0 - lam) * p_uni))
    return (scored.groupBy(id_col)
                  .agg(F.count(F.lit(1)).alias("n_tok"),
                       F.round(F.avg(lp), 4).alias("avg_logprob")))


def vocab_growth(df: DataFrame, text_col: str = "text",
                 group_col: str = "source", n: int = 1) -> DataFrame:
    """Cumulative vocabulary growth across groups (the Heaps-law
    profile a tokenizer audit runs): groups are visited in
    lexicographic order; each row reports how many NEW token types
    the group contributes and the cumulative vocabulary so far.
    ``n`` sets the type granularity — 1 = unigram vocabulary,
    ``n>1`` = word n-gram types (the :func:`top_ngrams` gram recipe),
    useful when the unigram vocabulary saturates in the first shard.

    Scale shape (100 TB): each token type collapses to its FIRST
    group via one map-side-combined ``min(group)`` agg — the only
    corpus-sized shuffle, carrying one row per distinct type.  The
    per-group new-type counts then aggregate on the BOUNDED group
    key, and the running total is a window over |groups| rows
    (control-plane-sized).  All-integer output — hash-exact.

    Output: ``(group_col, new_types, cum_vocab)``, one row per group
    that contains at least one token (n-gram for ``n>1``).
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"vocab_growth: n must be >= 1, got {n}")
    df = spread(df)
    if n == 1:
        typed = df.select(F.col(group_col).alias("g"),
                          F.explode(ws_tokens(text_col)).alias("tok"))
    else:
        from vision_parse_spark.functions.text_stats import word_ngrams_udf

        grams = word_ngrams_udf(n)
        typed = df.select(F.col(group_col).alias("g"),
                          F.explode(grams(F.col(text_col))).alias("tok"))
    first = typed.groupBy("tok").agg(F.min("g").alias("g"))
    per_group = (first.groupBy("g")
                      .agg(F.count(F.lit(1)).alias("new_types")))
    cum = (Window.orderBy("g")
                 .rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))
    return (per_group
            .withColumn("cum_vocab", F.sum("new_types").over(cum))
            .select(F.col("g").alias(group_col), "new_types",
                    "cum_vocab"))


def keyword_extract(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document — the classic
    distinctive-term signal (tagging, routing, near-dup triage):
    ``score = tf * ln(N / df)`` with corpus document frequency.

    Scale shape (100 TB): ONE corpus-sized shuffle builds the
    (doc, term, tf) relation with map-side combine; document
    frequency aggregates that already-combined relation on the term
    key and broadcasts back.  The df relation is VOCABULARY-sized
    (Heaps' law — millions of rows on a web corpus, still
    broadcastable; beyond that, shard the score join on the term —
    the :func:`unigram_logprob` caveat, not a bounded key); the
    per-doc top-k is a (doc)-keyed window.
    Ranking is (rounded score DESC, term ASC) — the repo's
    determinism rule; ``ln`` cross-engine parity carries the bm25
    precedent's ulp analysis (round-6 boundary flips need a score
    within ~1e-12 of a .0000005 edge).

    Output: ``(id_col, term, tfidf, rank)``.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"keyword_extract: k must be >= 1, got {k}")
    n_docs = df.count()
    if n_docs == 0:
        raise ValueError("keyword_extract: empty corpus")
    # checkpointed: document frequency AND the score join both read
    # this relation — without the barrier the explode+agg shuffle
    # runs twice (guide §2.4)
    tf = (spread(df).select(F.col(id_col),
                            F.explode(ws_tokens(text_col)).alias("term"))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .localCheckpoint(eager=True))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (tf.join(F.broadcast(dfreq), "term")
                .select(id_col, "term",
                        F.round(F.col("tf")
                                * F.log(F.lit(float(n_docs))
                                        / F.col("df")), 6)
                         .alias("tfidf")))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"),
                                           F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select(id_col, "term", "tfidf", "rank"))


def source_divergence(df: DataFrame, text_col: str = "text",
                      group_col: str = "source",
                      top_k: int = 100) -> DataFrame:
    """Distribution-shift audit per source: KL(source || corpus) over
    the unigram distribution COARSENED to the corpus's ``top_k``
    tokens plus one ``other`` bucket — the mixture/domain-drift
    tripwire a training pipeline runs when a new shard lands (a
    source whose token distribution diverges hard from the corpus is
    either a different domain or a scraper artifact).

    Coarsening is what makes this scale-honest: the support is
    bounded at ``top_k + 1`` BY DESIGN (never vocabulary-sized), so
    the per-(source, token) aggregation key is bounded and the
    per-source fold has a fixed term count.

    Determinism: counts are exact integers; each source's KL is ONE
    ordered fold over its (token asc, then other) term list —
    ``0 * ln 0 = 0`` convention for absent tokens — replayed
    term-for-term by the DuckDB oracle (the pagerank ordered-fold
    precedent; ``ln`` under the bm25 ulp analysis).  Rounded to 6.

    Output: ``(group_col, n_tokens, kl_vs_corpus)``.
    """
    from pyspark.sql import Window

    if top_k < 1:
        raise ValueError(f"source_divergence: top_k must be >= 1,"
                         f" got {top_k}")
    toks = ws_tokens(text_col)
    # checkpointed: the (group, token) counts previously recomputed
    # the corpus explode+agg for BOTH the top-k collect and the
    # coarsening pass, and a THIRD full explode counted the corpus
    # total — n_corpus is the exact integer sum of these counts, so
    # one pass now feeds all three consumers (guide §2.4)
    st = (spread(df).select(F.col(group_col).alias("g"),
                            F.explode(toks).alias("tok"))
            .groupBy("g", "tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=True))
    corpus = (st.groupBy("tok").agg(F.sum("c").alias("cc"))
                .orderBy(F.desc("cc"), F.asc("tok")).limit(top_k)
                .collect())
    if not corpus:
        raise ValueError("source_divergence: empty corpus")
    top = {r["tok"]: r["cc"] for r in corpus}
    n_corpus = int(st.agg(F.sum("c")).first()[0])
    other_corpus = n_corpus - sum(top.values())

    top_arr = F.array(*[F.lit(t) for t in sorted(top)])
    coarse = (st.withColumn(
                  "tok", F.when(F.array_contains(top_arr,
                                                 F.col("tok")),
                                F.col("tok"))
                          .otherwise(F.lit("\x01other")))
                .groupBy("g", "tok").agg(F.sum("c").alias("c")))
    per_g = coarse.groupBy("g").agg(
        F.sum("c").alias("n_tokens"),
        F.sort_array(F.collect_list(F.struct("tok", "c")))
         .alias("_terms"))
    # corpus probability per term, as an aligned literal map
    probs = {t: c / n_corpus for t, c in top.items()}
    probs["\x01other"] = other_corpus / n_corpus
    pmap = F.map_from_arrays(
        F.array(*[F.lit(t) for t in sorted(probs)]),
        F.array(*[F.expr(f"cast('{probs[t]!r}' as double)")
                  for t in sorted(probs)]))
    # ordered fold over the (token asc) term list; absent tokens
    # contribute 0 (the 0 ln 0 convention) and never enter the list
    kl = F.expr(
        "aggregate(_terms, cast(0.0 as double), (acc, t) -> "
        "acc + (cast(t.c as double) / cast(n_tokens as double)) "
        "* ln((cast(t.c as double) / cast(n_tokens as double)) "
        "/ element_at(_pmap, t.tok)))")
    return (per_g.withColumn("_pmap", pmap)
                 .select(F.col("g").alias(group_col),
                         F.col("n_tokens").cast("long")
                          .alias("n_tokens"),
                         F.round(kl, 6).alias("kl_vs_corpus")))
