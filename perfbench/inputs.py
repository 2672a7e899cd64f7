"""Seeded benchmark inputs, generated in the driver and written as parquet.

Seed ``s`` selects the global-id range ``[s * 10**9, s * 10**9 + n)`` of
``synth.gen_payloads``, which is a pure function of the id, so the same
seed always yields the same files and different seeds never overlap.
The program under test only ever sees the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from vision_parse_spark.synth import gen_payloads, ids_to_conv

ID_STRIDE = 10**9
WARM_OFFSET = ID_STRIDE // 2  # warm-up inputs come from the upper half of a seed's range
NEAR_DUP_PCT = 30   # share of curation docs that copy an earlier doc
PII_PCT = 10        # share of curation docs carrying an email and an IP


def transcript_ids(seed: int, n: int, offset: int = 0) -> np.ndarray:
    start = seed * ID_STRIDE + offset
    return np.arange(start, start + n, dtype=np.int64)


def write_transcripts(seed: int, n: int, out_dir: str, n_files: int,
                      offset: int = 0) -> pd.DataFrame:
    """``n`` transcript turns split round-robin over ``n_files`` parquet
    files in ``out_dir``; returns the generated frame.

    ``gen_payloads`` zero-fills the conversation ordinal into a 6-wide
    string array, which truncates ordinals of seven or more digits, so
    at these id ranges distinct conversations would share a
    ``conv_id``.  The ordinal is re-derived here in full so that
    ``(conv_id, turn_idx)`` stays a key."""
    ids = transcript_ids(seed, n, offset)
    pdf = gen_payloads(ids)
    conv_ord, _ = ids_to_conv(ids)
    pdf["conv_id"] = pd.Series([f"conv-{c:06d}" for c in conv_ord], dtype="object")
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_files):
        pdf.iloc[k::n_files].to_parquet(
            os.path.join(out_dir, f"part-{k:03d}.parquet"), index=False)
    return pdf


def gen_docs(seed: int, n: int, offset: int = 0) -> pd.DataFrame:
    """A ``(doc_id, text, src_id)`` curation corpus of ``n`` documents.

    Texts are the non-empty, non-PDF payloads of the transcript
    generator.  About ``NEAR_DUP_PCT`` percent of the documents reuse
    the text of an earlier original document plus one appended token;
    ``src_id`` names the generated text a document derives from, so
    documents sharing a ``src_id`` are the intended near-duplicates.
    About ``PII_PCT`` percent carry an email address and an IPv4
    address for the scrub stage."""
    start = seed * ID_STRIDE + offset
    ids = np.arange(start, start + 2 * n + 64, dtype=np.int64)
    text = gen_payloads(ids)["text"]
    keep = ((text.str.strip() != "") & ~text.str.startswith("%PDF")).to_numpy()
    ids = ids[keep][:n]
    base_text = text[keep].to_numpy()[:n]
    if len(ids) < n:
        raise ValueError(f"generator yielded {len(ids)} docs, need {n}")

    rng = np.random.default_rng([seed, offset])
    dup = rng.random(n) * 100 < NEAR_DUP_PCT
    dup[0] = False
    originals = np.flatnonzero(~dup)
    # a near-duplicate copies an original that precedes it
    n_before = np.searchsorted(originals, np.arange(n), side="left")
    pick = (rng.random(n) * n_before).astype(np.int64)
    src_pos = np.where(dup, originals[np.minimum(pick, len(originals) - 1)],
                       np.arange(n))

    texts = pd.Series(base_text[src_pos], dtype="object")
    edit = pd.Series(rng.integers(0, 10**6, n).astype(str), dtype="object")
    texts[dup] = texts[dup] + " rev" + edit[dup]

    pii = rng.random(n) * 100 < PII_PCT
    ip = [pd.Series(rng.integers(0, 256, n).astype(str), dtype="object")
          for _ in range(3)]
    texts[pii] = (texts[pii] + "\ncontact user" + edit[pii]
                  + "@mail.example.com from 10." + ip[0][pii] + "."
                  + ip[1][pii] + "." + ip[2][pii])
    return pd.DataFrame({"doc_id": ids, "text": texts, "src_id": ids[src_pos]})


def write_docs(docs: pd.DataFrame, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_files):
        docs.iloc[k::n_files][["doc_id", "text"]].to_parquet(
            os.path.join(out_dir, f"part-{k:03d}.parquet"), index=False)
