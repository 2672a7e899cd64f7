"""Driver-side reference for ``curate()`` on the generated corpus.

Replays the gate, near-dedup and scrub semantics of
``operators.curation.curate`` in plain Python.  The generated corpus is
ASCII, where Python ``re`` and Spark's Java regex agree on every pattern
used here.  Near-duplicate pairs are searched only among documents that
share a ``src_id`` (see ``inputs.gen_docs``): documents generated from
different payloads share a few boilerplate trigrams at most, far below
the 0.5 Jaccard threshold, so no cross-group pair can be verified.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from itertools import combinations

import pandas as pd

from vision_parse_spark.functions.scrub import PII_RULES
from vision_parse_spark.functions.text_stats import java_ws_tokens

_TOKEN_RE = re.compile(r"[A-Za-z0-9]+")
_STOP_RE = re.compile(r"\b(?:the|a|an|and|or|of|to|in|is|it)\b")
_PII_RES = [(re.compile(p), r) for p, r in PII_RULES]


def quality_e4(text: str) -> int | None:
    """``curation.quality_e4_col``; ``None`` where ``curate`` drops the
    document for having no tokens."""
    n_tok = len(_TOKEN_RE.findall(text))
    if n_tok == 0:
        return None
    n_stop = len(_STOP_RE.findall(text.lower()))
    len_ok = min(len(text) / 200.0, 1.0)
    stop_ok = min(n_stop / n_tok / 0.2, 1.0)
    return math.floor((len_ok * 0.5 + stop_ok * 0.5) * 10000)


def repetition_ok(text: str, max_dup_line_frac: float = 0.3,
                  max_top_bigram_frac: float = 0.2) -> bool:
    """``repetition_stats`` thresholds as applied by ``curate``."""
    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln != ""]
    dup_line = round(1 - len(set(lines)) / len(lines), 6) if lines else 0.0
    toks = java_ws_tokens(text)
    if len(toks) < 2:
        top_bigram = 0.0
    else:
        top = max(Counter(zip(toks, toks[1:])).values())
        top_bigram = round(top / (len(toks) - 1), 6)
    return dup_line <= max_dup_line_frac and top_bigram <= max_top_bigram_frac


def shingles(text: str, n: int = 3) -> set:
    toks = text.strip().lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return round(len(a & b) / union, 6) if union else 0.0


def scrub(text: str) -> str:
    for pattern, repl in _PII_RES:
        text = pattern.sub(repl, text)
    return text


def curate_reference(docs: pd.DataFrame, min_quality_e4: int = 5000,
                     jaccard_threshold: float = 0.5) -> tuple[dict, int]:
    """``(survivors, gated)``: the expected ``{doc_id: scrubbed text}``
    of ``curate(docs)`` and the number of documents passing both gates."""
    gated = {}
    for doc_id, text, src in docs[["doc_id", "text", "src_id"]].itertuples(index=False):
        q = quality_e4(text)
        if q is not None and q >= min_quality_e4 and repetition_ok(text):
            gated[int(doc_id)] = (text, int(src))
    groups: dict[int, list[int]] = {}
    for doc_id, (_, src) in gated.items():
        groups.setdefault(src, []).append(doc_id)
    losers = set()
    for members in groups.values():
        sh = {d: shingles(gated[d][0]) for d in members}
        for a, b in combinations(sorted(members), 2):
            if jaccard(sh[a], sh[b]) >= jaccard_threshold:
                losers.add(b)
    survivors = {d: scrub(t) for d, (t, _) in gated.items() if d not in losers}
    return survivors, len(gated)
