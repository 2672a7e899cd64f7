"""T14-T16 — the scoring harness, lifted from the reference's
``benchmarks/scoring.py``.

* ``bleu_score`` — sentence BLEU with uniform 4-gram weights over
  lowercased word tokens, mirroring ``scoring.py:16-20``
  (``sentence_bleu(reference_tokens, generated_tokens)`` with nltk
  defaults: modified n-gram precision, smoothing off, brevity
  penalty).  Implemented from the published BLEU definition (Papineni
  et al. 2002) in pure Python/numpy — nltk is not available here.
* ``levenshtein_similarity`` — ``scoring.py:23-28``:
  ``1 - distance/max(len)``, 1.0 when both empty.
* ``accuracy_score`` — ``scoring.py:53-55``: ``(bleu + lev) / 2``.

Distribution: at corpus scale these run as Catalyst expressions where
possible (``F.levenshtein``) and as an Arrow-batched pandas UDF for
BLEU (`bleu_udf`); the driver-side scalars below are the golden
reference used in tests.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pandas as pd

_TOKEN_RE = re.compile(r"[a-z0-9]+(?:'[a-z]+)?|[^\w\s]")


def _tokens(text: str) -> list[str]:
    """Lowercased word tokenization (nltk.word_tokenize approximation:
    words, contractions, punctuation as separate tokens)."""
    return _TOKEN_RE.findall((text or "").lower())


def bleu_from_tokens(gen: list[str], ref: list[str],
                     max_n: int = 4) -> float:
    """Sentence BLEU over pre-tokenized sequences (uniform weights,
    brevity penalty, no smoothing: any zero n-gram precision gives
    0.0) — the exact ``nltk.translate.bleu_score.sentence_bleu``
    default math (Papineni et al. 2002), shared by ``bleu_score`` and
    the tokenizer-parity fixture (tests/fixtures/bleu_parity.json),
    which feeds it hand-derived ``nltk.word_tokenize`` outputs to
    isolate tokenizer divergence from BLEU-math divergence."""
    if not gen or not ref:
        return 0.0
    log_sum = 0.0
    for n in range(1, max_n + 1):
        gen_ngrams = Counter(
            tuple(gen[i : i + n]) for i in range(len(gen) - n + 1)
        )
        ref_ngrams = Counter(
            tuple(ref[i : i + n]) for i in range(len(ref) - n + 1)
        )
        overlap = sum(min(c, ref_ngrams[g]) for g, c in gen_ngrams.items())
        total = max(sum(gen_ngrams.values()), 1)
        if overlap == 0:
            return 0.0
        log_sum += math.log(overlap / total) / max_n
    bp = 1.0 if len(gen) > len(ref) else math.exp(1 - len(ref) / max(len(gen), 1))
    return bp * math.exp(log_sum)


def bleu_score(generated: str, truth: str, max_n: int = 4) -> float:
    """Sentence BLEU of raw texts through the regex tokenizer
    (``scoring.py:16-20`` semantics; tokenizer is an approximation of
    ``nltk.word_tokenize`` — divergence cases are pinned in
    tests/fixtures/bleu_parity.json)."""
    return bleu_from_tokens(_tokens(generated), _tokens(truth), max_n)


def levenshtein_similarity(generated: str, truth: str) -> float:
    """scoring.py:23-28 exactly (1.0 when both empty)."""
    a, b = generated or "", truth or ""
    if not a and not b:
        return 1.0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return 1 - prev[-1] / max(len(a), len(b))


def accuracy_score(generated: str, truth: str) -> float:
    """scoring.py:53-55: (bleu + levenshtein)/2."""
    return (bleu_score(generated, truth)
            + levenshtein_similarity(generated, truth)) / 2


def bleu_udf_factory():
    """Arrow-batched pandas UDF: BLEU of (generated, truth) column
    pairs for corpus-scale scoring.

    Cost note (deliberate): BLEU builds per-document n-gram Counters,
    so the inner loop is per-row even inside the Arrow batch — the
    same cost class as the reference's driver-side scoring loop
    (benchmarks/scoring.py:31-50 there).  This runs in the offline
    scoring harness only, never in the extraction hot path; the win
    over the reference is distribution across executors, not
    per-pair vectorization."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def bleu(gen: pd.Series, truth: pd.Series) -> pd.Series:
        return pd.Series(
            [bleu_score(g, t) for g, t in zip(gen, truth)],
            index=gen.index, dtype="float64",
        )

    return bleu


def rouge_n_pairs(pairs, id_cols: list[str], cand_col: str,
                  ref_col: str, n: int = 2):
    """Distributed ROUGE-N recall (Lin 2004) for a DataFrame of
    (candidate, reference) text pairs: ``sum_g min(cnt_cand(g),
    cnt_ref(g)) / sum_g cnt_ref(g)`` over reference n-grams ``g`` of
    the whitespace token stream (the corpus-wide ``ws_tokens``
    recipe).  Pairs whose reference has zero n-grams are absent from
    the output (recall is undefined there).

    Scale shape: one ``mapInPandas`` kernel reduces each pair to two
    exact integers (clipped overlap and reference total, a Counter
    intersection) inside the scan — no gram-level exchange; the final
    ``round(clip / tot, 6)`` runs in Catalyst.
    """
    from pyspark.sql import functions as F

    from ..functions.text_stats import java_ws_tokens

    if n < 1:
        raise ValueError(f"rouge_n_pairs: n must be >= 1, got {n}")
    dtypes = dict(pairs.dtypes)
    schema = ", ".join([f"{c} {dtypes[c]}" for c in id_cols]
                       + ["clip long", "tot long"])

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            clips, tots, keep = [], [], []
            for i, (cand, ref) in enumerate(zip(pdf[cand_col],
                                                pdf[ref_col])):
                rt = java_ws_tokens(ref)
                if len(rt) < n:
                    continue
                ct = java_ws_tokens(cand)
                rg = Counter(" ".join(rt[j:j + n])
                             for j in range(len(rt) - n + 1))
                cg = Counter(" ".join(ct[j:j + n])
                             for j in range(len(ct) - n + 1))
                clips.append(sum(min(v, cg[g]) for g, v in rg.items()))
                tots.append(sum(rg.values()))
                keep.append(i)
            if keep:
                out = pdf.iloc[keep][list(id_cols)].copy()
                out["clip"], out["tot"] = clips, tots
                yield out

    counted = pairs.select(*id_cols, cand_col, ref_col) \
        .mapInPandas(kernel, schema)
    return counted.select(
        *id_cols,
        F.round(F.col("clip") / F.col("tot"), 6).alias(f"rouge{n}"))
