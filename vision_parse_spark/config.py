"""Engine configuration.

Replaces the reference's ``PDFPageConfig`` + ``VisionParser`` ctor
knobs (``/root/reference/src/vision_parse/parser.py:20-26,44-96``) with
a plain dataclass broadcast into UDF closures.  No network, no device
probing (``utils.py:146-165`` is cluster sizing -> spark-submit flags).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional


@dataclass(frozen=True)
class ExtractConfig:
    """Configuration for the transcript extraction pipeline.

    Mirrors the semantics-bearing knobs of the reference:

    * ``image_mode`` — ``parser.py:54`` ``Literal["url","base64",None]``;
      gates image extraction (P3, ``llm.py:349-354``) and link style
      (T8, ``llm.py:383-393``).
    * ``detailed_extraction`` — ``parser.py:53``; False forces the
      fallback prompt defaults (tables=Yes, latex=No, conf=0.0,
      ``llm.py:370-377``).
    * ``custom_transform`` — the lift of ``custom_prompt``
      (``parser.py:55``): an optional user hook applied to the final
      markdown Series (vectorized; pd.Series -> pd.Series).

    The reference's hard-coded thresholds are module constants next to
    the code that applies them: the P2 fast-path confidence in
    ``operators/pipeline.py``, the P4/P5 region bounds in
    ``operators/images.py``.
    """

    image_mode: Optional[str] = None          # "url" | "base64" | None
    detailed_extraction: bool = True
    strict: bool = False                      # raise on first error (tests)
    custom_transform: Optional[object] = None # Callable[[pd.Series], pd.Series]
    # round 5 — PDFPageConfig parity (parser.py:20-26):
    # * raster_dpi: resolution of the VECTOR raster channel
    #   (scale = dpi/72, the reference's dpi knob; its default 400 is
    #   for LLM-legible bitmaps — here the text channel reads the text
    #   layer directly, so 72 keeps the CV pass cheap by default and
    #   the knob exists for callers that want finer region detection).
    #   Embedded raster images decode at their native resolution.
    # * color_space: "RGB" (reference default) or "GRAY" — GRAY
    #   base64-encodes region crops as 1-channel PNGs.
    # * preserve_transparency: RGBA embedded images keep their alpha
    #   plane through to the region PNG (color type 6); False
    #   (reference default) flattens to RGB.
    raster_dpi: int = 72
    color_space: str = "RGB"
    preserve_transparency: bool = False
    # the reference returns "" for pages with no detected text WITHOUT
    # extracting images (llm.py:333-334) — scan-only / image-only
    # payloads get nothing.  True opts textless payloads into image
    # extraction anyway (harvesting figures from scans, a training-
    # data need the reference doesn't serve); rows that then yield
    # images get status 'ok'.  Default False = reference-faithful.
    textless_images: bool = False
    # round 4: the vector raster fallback (path-drawn figures region-
    # detected via the content-stream rasterizer).  True = reference-
    # faithful (the reference rasterizes every page, so vector figures
    # reach its CV chain); False skips the rasterizer for pipelines
    # that only want embedded raster images.
    vector_figures: bool = True
    # round 5: /Annots appearance streams (filled AcroForm fields,
    # stamps) feed the text channel and the vector rasterizer.  The
    # reference renders them by default via
    # may_draw_forms=include_annotations (parser.py:25, 118-120);
    # False drops annotation content like the reference's
    # include_annotations=False.
    include_annotations: bool = True
    # round 6: Boilerpipe-style link-density block drop in the HTML
    # channel (Kohlschütter et al. 2010) — catches link farms /
    # "related posts" divs no tag-name rule can.  Off by default:
    # the markdown goldens pin the tag-rule-only output.
    html_density_filter: bool = False

    def validate(self) -> "ExtractConfig":
        if self.image_mode not in (None, "url", "base64"):
            raise ValueError(
                f"image_mode must be 'url', 'base64' or None, got {self.image_mode!r}"
            )
        if not (36 <= int(self.raster_dpi) <= 600):
            raise ValueError(
                f"raster_dpi must be in [36, 600], got {self.raster_dpi!r}"
            )
        if self.color_space not in ("RGB", "GRAY"):
            raise ValueError(
                f"color_space must be 'RGB' or 'GRAY', "
                f"got {self.color_space!r}"
            )
        return self
