"""T4 — deterministic page/turn classification.

Replaces the reference's first Vision-LLM call
(``/root/reference/src/vision_parse/llm.py:325-331``, prompt contract
``image_analysis.j2:9-16``) with a vectorized heuristic classifier.
Output mirrors ``ImageDescription`` (``llm.py:17-24``):

    text_detected, tables_detected, images_detected, latex_detected
    (booleans — the reference's Literal["Yes","No"]),
    extracted_text (str), confidence (double).

All detection is pandas ``.str`` regex / numpy masks over the batch —
no per-row Python (north_rule).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .fences import strip_code_fences
from .html import looks_like_html, strip_html_boilerplate

# Synthetic page-image placeholder embedded in transcript text payloads.
# The images operator re-renders a deterministic numpy page from the
# captured (w, h, seed, noise) and runs the real region-detection
# pipeline (see operators/images.py).  Stands in for the reference's
# rendered PDF bitmap (parser.py:116-121) since raster libs are out of
# scope here.
PAGE_IMAGE_MARKER_RE = re.compile(
    r"\[\[PAGE_IMAGE w=(\d+) h=(\d+) seed=(\d+)(?: noise=(\d+))?\]\]")

# Table signals: HTML tables, pipe rows, or aligned-column blocks
# (>=2 lines with >=2 multi-space-separated runs).
_PIPE_ROW_RE = r"(?m)^\s*\|.*\|.*$"
_ALIGNED_ROW_RE = r"(?m)^.*\S  +\S.*$"
_HTML_TABLE_RE = r"(?i)<table\b"

# LaTeX signals (markdown_prompt.j2:20-24 semantics: $...$ inline,
# $$...$$ block, or common TeX commands).
_LATEX_RE = (
    r"\$\$[^$]+\$\$"
    r"|\$[^$\n]+\$"
    r"|\\(?:frac|sum|int|sqrt|alpha|beta|gamma|lambda|mu|sigma|infty|partial|nabla)\b"
)

# Characters counted as "clean text" for the confidence heuristic.
_CLEAN_CHARS_RE = r"[A-Za-z0-9 .,;:'\"!?()\[\]\-\n#*|$\\{}/=+_<>%&@^~`]"

# Unformatted-structure signals that must reach the formatter (raw
# bullets / `1)` numbering / ALL-CAPS section headers / aligned cols).
_UNFORMATTED_STRUCTURE_RE = (
    r"(?m)^\s*[*•–]\s+\S"
    r"|^\s*\d+\)\s+\S"
    r"|^[A-Z][A-Z ]{2,59}$"
    r"|^.*\S  +\S.*$"
)


# P6 unsupported-payload sniff: NUL bytes or mostly control characters
# mean the turn carries non-text bytes (the lift of the reference's
# ".pdf suffix else UnsupportedFileError" check, parser.py:157-161).
_BINARY_CTRL_RE = r"[\x00-\x08\x0b\x0e-\x1f]"


def detect_payload_kind(text: pd.Series) -> pd.Series:
    """'pdf_text' | 'html' | 'binary' | 'plain' — the lift of the
    reference's suffix check (parser.py:157-161) to payload sniffing."""
    t = text.fillna("")
    is_pdf = t.str.startswith("%PDF-")
    n_ctrl = t.str.count(_BINARY_CTRL_RE).to_numpy(dtype="float64")
    n_len = t.str.len().to_numpy(dtype="float64")
    with np.errstate(divide="ignore", invalid="ignore"):
        is_binary = (n_ctrl > 0) & (
            t.str.contains("\x00", regex=False).to_numpy()
            | (np.where(n_len > 0, n_ctrl / n_len, 0.0) > 0.1)
        ) & ~is_pdf.to_numpy()
    is_html = looks_like_html(t) & ~is_pdf & ~is_binary
    kind = pd.Series(
        np.where(is_pdf, "pdf_text",
                 np.where(is_binary, "binary",
                          np.where(is_html, "html", "plain"))),
        index=text.index, dtype="object")
    return kind


def classify_batch(text: pd.Series, include_annotations: bool = True,
                   html_density_filter: bool = False) -> pd.DataFrame:
    """Classify a batch of turn payloads.

    Returns a DataFrame with columns: payload_kind, text_detected,
    tables_detected, images_detected, latex_detected, extracted_text,
    confidence — one row per input row, index-aligned.
    ``include_annotations`` gates /Annots appearance text + ink inside
    the pdf parse (ExtractConfig.include_annotations);
    ``html_density_filter`` turns on the Boilerpipe link-density
    block drop in the HTML channel (ExtractConfig.html_density_filter).
    """
    t = text.fillna("")
    payload_kind = detect_payload_kind(t)

    # --- extracted_text: main-content extraction per payload kind ---
    # pdf_text: REAL text-layer parse (object walk, FlateDecode,
    # BT/Tj/TJ interpretation — functions/pdf.py); payloads that carry
    # a %PDF- header but no parseable object structure fall back to
    # header-stripping (legacy text blobs).
    pdf_mask = (payload_kind == "pdf_text").to_numpy()
    html_mask = (payload_kind == "html").to_numpy()

    extracted = t.copy()
    pdf_vector_ink = pd.Series(False, index=t.index)
    pdf_encrypted = pd.Series(False, index=t.index)
    if pdf_mask.any():
        from .pdf import extract_pdf_text_series

        parsed_pdf, _parse_ok, vec_ink, encrypted = \
            extract_pdf_text_series(
                t[pdf_mask], include_annotations=include_annotations)
        extracted = extracted.mask(pd.Series(pdf_mask, index=t.index), parsed_pdf)
        pdf_vector_ink.loc[vec_ink.index] = vec_ink
        if encrypted.any():
            # password-locked files surface as their own payload kind
            # so the pipeline can record status='encrypted' instead of
            # an empty row that looks like a legitimately blank doc
            payload_kind = payload_kind.copy()
            payload_kind.loc[encrypted.index[encrypted]] = \
                "pdf_encrypted"
            pdf_encrypted.loc[encrypted.index] = encrypted
    if html_mask.any():
        stripped_html = strip_html_boilerplate(
            t[html_mask], density_filter=html_density_filter)
        extracted = extracted.mask(pd.Series(html_mask, index=t.index), stripped_html)

    # T6 fence strip applies to every payload (llm.py:444-449)
    extracted = strip_code_fences(extracted)
    # drop image markers from the text channel (they live in `images`)
    has_marker = extracted.str.count(PAGE_IMAGE_MARKER_RE) > 0
    extracted = extracted.str.replace(PAGE_IMAGE_MARKER_RE, "", regex=True)
    extracted = extracted.str.replace(r"[ \t]+\n", "\n", regex=True).str.strip()

    # --- detections ---
    text_detected = extracted.str.len() > 0

    n_pipe_rows = extracted.str.count(_PIPE_ROW_RE)
    n_aligned_rows = extracted.str.count(_ALIGNED_ROW_RE)
    tables_detected = (
        t.str.contains(_HTML_TABLE_RE, regex=True, na=False)
        | (n_pipe_rows >= 2)
        | (n_aligned_rows >= 2)
    )

    latex_detected = extracted.str.contains(_LATEX_RE, regex=True, na=False)
    # markers (synthetic channel) OR embedded /Image XObjects inside a
    # pdf payload (real channel) OR vector paint ops in a pdf page's
    # decoded content stream (the round-4 raster-fallback channel for
    # vector-drawn figures; flag computed during the text parse above).
    # The full decode happens lazily in the images operator — this is
    # the vectorized detection gate, P3.
    images_detected = (has_marker | (
        pd.Series(pdf_mask, index=t.index)
        & t.str.contains(r"/Subtype\s*/Image\b", regex=True, na=False)
    ) | pdf_vector_ink) & ~pdf_encrypted  # locked: nothing decodable

    # --- confidence: "this text is already final" score --------------
    # clean-character ratio, halved when unformatted structure remains
    # (raw bullets, `1)` numbering, ALL-CAPS section lines, aligned
    # columns) so the P2 fast path (llm.py:336-346) only fires for
    # genuinely plain text and structured turns reach the formatter.
    total_len = extracted.str.len().to_numpy(dtype="float64")
    clean_len = extracted.str.count(_CLEAN_CHARS_RE).to_numpy(dtype="float64")
    unformatted = extracted.str.contains(_UNFORMATTED_STRUCTURE_RE, regex=True,
                                         na=False).to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        conf = np.where(total_len > 0, np.round(clean_len / total_len, 2), 0.0)
    conf = np.where(unformatted, np.round(conf * 0.5, 2), conf)

    return pd.DataFrame(
        {
            "payload_kind": payload_kind,
            "text_detected": text_detected,
            "tables_detected": tables_detected & text_detected,
            "images_detected": images_detected,
            "latex_detected": latex_detected & text_detected,
            "extracted_text": extracted,
            "confidence": conf,
        },
        index=t.index,
    )
