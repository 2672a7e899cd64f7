"""The fused extraction pipeline — one Arrow-batched mapInPandas stage.

This is the Spark lifecycle replacing the reference's
``convert_pdf`` call tree (``/root/reference/src/vision_parse/
parser.py:152-201`` + ``llm.py:318-395``):

    scan (Iceberg/parquet, pruned to the 6 input columns)
      -> [optional salted repartition for skewed input splits]
      -> mapInPandas(extract_batch)   # T2,T4,T5,T6,T8-T12,P1-P5 fused
      -> one output row per input turn (A1 ordering by key, no shuffle)

Semantics preserved per-branch:

* P1 (``llm.py:333-334``): ``text_detected == No`` -> markdown ``""``,
  row KEPT, status 'empty'.
* P2 (``llm.py:336-346``): confidence > 0.6 and no tables and no
  latex and (no images or image_mode None) -> extracted_text is
  passed through verbatim, formatter skipped.
* P3 (``llm.py:349-354``): images extracted only when
  images_detected and image_mode is set.
* C4 (``llm.py:364-377``): classification failure -> fallback
  analysis defaults (tables=Yes, latex=No, conf=0.0) applied per
  batch, never global state; errors land in the ``error`` column.
* T8 (``llm.py:383-393``): image links appended as
  ``\\n\\n![url](url)`` / ``\\n\\n![url](data-uri)``.

Scale notes (100 TB / 1000 executors):
* the stage is narrow (no shuffle) unless ``salt_partitions`` is set —
  rows are independent, so scan-partition parallelism carries it;
* per-batch peak memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (the analog of the
  reference's per-page bitmap close, ``parser.py:137-140``);
* all string work is pandas-vectorized; numpy CV runs only per
  detected image entity (same per-entity cost the reference pays).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ExtractConfig
from ..functions.classify import classify_batch
from ..functions.markdown import format_markdown_batch
from ..schema import OUTPUT_SCHEMA
from .images import extract_images_from_marker_text

_INPUT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

# P2 fast-path threshold: classifier confidence above this skips the
# formatter (llm.py:338)
FAST_PATH_CONFIDENCE = 0.6


def _fallback_analysis(texts: pd.Series) -> pd.DataFrame:
    """C4 fallback defaults, mirroring llm.py:371-377: extracted_text
    empty -> formatter runs on the raw text; tables=Yes, latex=No,
    confidence=0.0."""
    return pd.DataFrame(
        {
            "payload_kind": "plain",
            "text_detected": texts.fillna("").str.strip().str.len() > 0,
            "tables_detected": True,
            "images_detected": False,
            "latex_detected": False,
            "extracted_text": texts.fillna(""),
            "confidence": 0.0,
        },
        index=texts.index,
    )


def extract_pandas(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    """Pure-pandas core of the extraction stage (one Arrow batch).

    Takes a frame with the transcript input columns, returns a frame
    matching OUTPUT_SCHEMA.  Unit-testable without Spark."""
    n = len(pdf)
    texts = pdf["text"] if "text" in pdf else pd.Series([""] * n)
    error = pd.Series([None] * n, index=pdf.index, dtype="object")
    status = pd.Series(["ok"] * n, index=pdf.index, dtype="object")

    # ---- T4 classification with C4 fallback ----------------------
    try:
        analysis = classify_batch(
            texts, include_annotations=cfg.include_annotations,
            html_density_filter=cfg.html_density_filter)
    except Exception as e:  # pragma: no cover - defensive
        if cfg.strict:
            raise
        analysis = _fallback_analysis(texts)
        error[:] = f"classify_failed: {e}"

    # P6: non-text payloads -> 'unsupported' status, "" output, row
    # kept (error-as-data lift of UnsupportedFileError,
    # parser.py:157-161); strict mode raises like the reference
    binary_mask = (analysis["payload_kind"] == "binary").to_numpy(dtype=bool)
    if binary_mask.any():
        if cfg.strict:
            from ..errors import UnsupportedPayloadError

            bad = pdf.index[binary_mask][0]
            raise UnsupportedPayloadError(
                f"non-text payload at row {bad} (binary bytes detected)"
            )
        analysis.loc[binary_mask, "text_detected"] = False
        analysis.loc[binary_mask, "extracted_text"] = ""

    # password-locked PDFs: error-as-data status 'encrypted' (the
    # parse already emitted "" instead of ciphertext garbage); strict
    # mode raises like the reference would surface a pdfium failure
    encrypted_mask = (analysis["payload_kind"]
                      == "pdf_encrypted").to_numpy(dtype=bool)
    if encrypted_mask.any():
        if cfg.strict:
            from ..errors import EncryptedPayloadError

            bad = pdf.index[encrypted_mask][0]
            raise EncryptedPayloadError(
                f"password-protected PDF at row {bad} (empty user "
                f"password rejected)")
        error[encrypted_mask] = \
            "encrypted_pdf: empty user password rejected"

    text_det = analysis["text_detected"].to_numpy(dtype=bool)
    tables = analysis["tables_detected"].to_numpy(dtype=bool)
    latex = analysis["latex_detected"].to_numpy(dtype=bool)
    images_det = analysis["images_detected"].to_numpy(dtype=bool)
    conf = analysis["confidence"].to_numpy(dtype="float64")
    extracted = analysis["extracted_text"]

    # ---- P2 fast-path mask (llm.py:336-346) ----------------------
    fast = (
        (conf > FAST_PATH_CONFIDENCE)
        & ~tables
        & ~latex
        & (~images_det | (cfg.image_mode is None))
        & text_det
    )
    if not cfg.detailed_extraction:
        # reference forces the generic prompt path (llm.py:370-377)
        fast = np.zeros(n, dtype=bool)

    # ---- T5 formatter on the non-fast, non-empty rows ------------
    need_fmt = text_det & ~fast
    markdown = pd.Series([""] * n, index=pdf.index, dtype="object")
    if need_fmt.any():
        fmt_mask = pd.Series(need_fmt, index=pdf.index)
        formatted = format_markdown_batch(
            extracted[fmt_mask],
            analysis["tables_detected"][fmt_mask],
            analysis["latex_detected"][fmt_mask],
        )
        markdown = markdown.mask(fmt_mask, formatted)
    if fast.any():
        fast_mask = pd.Series(fast, index=pdf.index)
        markdown = markdown.mask(fast_mask, extracted[fast_mask])

    # ---- P1: no text -> "" with row kept (llm.py:333-334) --------
    status = pd.Series(
        np.where(encrypted_mask, "encrypted",
                 np.where(binary_mask, "unsupported",
                          np.where(text_det, "ok", "empty"))),
        index=pdf.index, dtype="object",
    )

    # ---- P3 + T8-T12: image extraction + link append -------------
    images_col: list = [[] for _ in range(n)]
    if cfg.image_mode is not None and images_det.any():
        raw_texts = texts.fillna("")
        # reference parity: textless payloads return "" WITHOUT image
        # extraction (llm.py:333-334); cfg.textless_images opts them in
        gate = images_det if cfg.textless_images \
            else (images_det & text_det)
        positions = np.flatnonzero(gate)
        md_values = markdown.to_numpy(dtype=object)
        turn_idx_vals = (
            pdf["turn_idx"].to_numpy() if "turn_idx" in pdf else np.zeros(n, dtype=int)
        )
        for pos in positions:  # per detected-image entity, like the
            # reference's per-page ImageData.extract_images call
            skipped: list = []
            try:
                imgs = extract_images_from_marker_text(
                    raw_texts.iloc[pos],
                    cfg.image_mode,
                    int(turn_idx_vals[pos]),
                    skipped_out=skipped,
                    vector_figures=cfg.vector_figures,
                    include_annotations=cfg.include_annotations,
                    raster_dpi=cfg.raster_dpi,
                    color_space=cfg.color_space,
                    preserve_transparency=cfg.preserve_transparency,
                )
            except Exception as e:
                if cfg.strict:
                    raise
                error.iloc[pos] = f"image_extraction_failed: {e}"
                status.iloc[pos] = "error"
                continue
            images_col[pos] = imgs
            if skipped and error.iloc[pos] is None:
                # data-loss marker, NOT a failure: the row's other
                # channels are intact, so status stays as-is and the
                # skip is visible in the error column (round-5
                # verdict: JPX/JBIG2 skips must never be silent)
                error.iloc[pos] = "skipped_images: " + "; ".join(
                    f"page{pi} {nm} [{reason}]"
                    for pi, nm, reason in skipped)
            if imgs:
                if not text_det[pos]:
                    status.iloc[pos] = "ok"  # textless row with images
                if cfg.image_mode == "url":
                    links = "".join(
                        f"\n\n![{d['image_url']}]({d['image_url']})" for d in imgs
                    )
                else:
                    links = "".join(
                        f"\n\n![{d['image_url']}]({d['base64_encoded']})"
                        for d in imgs
                    )
                md_values[pos] = (md_values[pos] or "") + links
        markdown = pd.Series(md_values, index=pdf.index, dtype="object")

    # ---- U6 custom transform (lift of custom_prompt) -------------
    if cfg.custom_transform is not None:
        markdown = cfg.custom_transform(markdown)

    analysis_struct = analysis[
        [
            "text_detected",
            "tables_detected",
            "images_detected",
            "latex_detected",
            "extracted_text",
            "confidence",
        ]
    ].to_dict("records")

    return pd.DataFrame(
        {
            "conv_id": pdf.get("conv_id", pd.Series([""] * n, index=pdf.index)),
            "turn_idx": pdf.get("turn_idx", pd.Series([0] * n, index=pdf.index)),
            "role": pdf.get("role", pd.Series([None] * n, index=pdf.index)),
            "tool": pdf.get("tool", pd.Series([None] * n, index=pdf.index)),
            "ts": pdf.get("ts", pd.Series([pd.NaT] * n, index=pdf.index)),
            "payload_kind": analysis["payload_kind"],
            "analysis": analysis_struct,
            "markdown": markdown,
            "images": images_col,
            "status": status,
            "error": error,
        }
    )


def salted_repartition(
    df: DataFrame, num_partitions: int, salt_buckets: int = 32
) -> DataFrame:
    """Skew-safe repartition (north_rule): hash on
    ``(conv_id, salt)`` where salt = pmod(hash(turn_idx), buckets), so
    one multi-million-turn conversation spreads over ``salt_buckets``
    partitions instead of hot-spotting one."""
    salt = F.pmod(F.hash("turn_idx"), F.lit(salt_buckets))
    return df.repartition(num_partitions, F.col("conv_id"), salt)


def extract(
    df: DataFrame,
    cfg: Optional[ExtractConfig] = None,
    *,
    salt_partitions: Optional[int] = None,
) -> DataFrame:
    """Run the extraction pipeline over a transcripts DataFrame.

    ``salt_partitions=None`` keeps the stage narrow (no shuffle —
    correct default: rows are independent and scan splits are already
    sized by ``spark.sql.files.maxPartitionBytes``).  Set it when the
    source's splits are skewed (e.g. one file per conversation) to
    force a salted rebalance first.
    """
    cfg = (cfg or ExtractConfig()).validate()
    cols = [c for c in _INPUT_COLS if c in df.columns]
    pruned = df.select(*cols)  # column pruning before the Python stage
    if salt_partitions:
        pruned = salted_repartition(pruned, salt_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extract_pandas(pdf, cfg)

    return pruned.mapInPandas(run, schema=OUTPUT_SCHEMA)
