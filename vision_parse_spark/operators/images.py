"""T9-T12 + T8 — image-region detection & extraction, pure numpy.

Re-implements the reference's cv2 pipeline
(``/root/reference/src/vision_parse/utils.py:24-139``) without cv2
(not available here), preserving every tunable constant and the
ordering contract:

* T9 preprocessing chain (``utils.py:24-39``): BGR->gray ->
  GaussianBlur(5x5) -> adaptive threshold (gaussian-weighted local
  mean, block 11, C=2, BINARY_INV) -> morphological close (3x3).
* T10 channel normalization (``utils.py:76-83``): BGRA->BGR.
* T11 contour detect + **area-descending sort** (``utils.py:86-89``)
  — here 4-connected components of horizontal pixel runs, labelled by
  the shared min-label kernel (``functions/components.py``); the
  filled per-row span area stands in for ``cv2.contourArea``.
* P4 size filter (``utils.py:96-104``): w/h >= 100 and <= 0.95*page.
* P5 validity predicate (``utils.py:41-59``): std>25,
  20<mean<235, area_ratio>0.4, laplacian variance<500.
* T12 crop + encode (``utils.py:106-139``): url mode emits the name
  ``image_{page+1}_{idx}.png`` only (executors must not write local
  files); base64 mode emits a ``data:image/png;base64,...`` URI via a
  minimal stdlib PNG encoder.

Pages here are deterministic synthetic bitmaps re-rendered from
``[[PAGE_IMAGE ...]]`` markers (no pdfium in this environment); the
detection pipeline itself operates on any HxWx3 uint8 array.
"""

from __future__ import annotations

import base64
import struct
import zlib

import numpy as np

from ..functions.classify import PAGE_IMAGE_MARKER_RE
from ..functions.components import min_labels

# ---------------------------------------------------------------------------
# deterministic synthetic page rendering (stand-in for parser.py:116-121)
# ---------------------------------------------------------------------------

# Synthetic page raster.  Chosen so the CV chain (~20 full-page passes
# per detected image) stays compute- rather than DRAM-bandwidth-bound
# when 32 executor threads share one memory controller; regions up to
# 270px still satisfy every P4 bound (>=100, <=0.95*page).
PAGE_H, PAGE_W = 400, 320


def render_page(w: int, h: int, seed: int, noise: int = 0) -> np.ndarray:
    """Render a deterministic white page with one textured rectangular
    region of size (h, w) whose position/texture derive from ``seed``.
    Returns an HxWx3 uint8 BGR array."""
    rng = np.random.default_rng(seed)
    page = np.full((PAGE_H, PAGE_W, 3), 255, dtype=np.uint8)
    w = min(int(w), PAGE_W - 2)
    h = min(int(h), PAGE_H - 2)
    y0 = int(rng.integers(1, max(PAGE_H - h - 1, 2)))
    x0 = int(rng.integers(1, max(PAGE_W - w - 1, 2)))
    # smooth horizontal-gradient block: mean ~130 (within 20..235),
    # std > 25, near-zero Laplacian variance (passes P5, utils.py:52-57)
    grad = np.linspace(60, 200, w, dtype=np.float64)
    block = np.broadcast_to(grad, (h, w))
    page[y0 : y0 + h, x0 : x0 + w] = np.repeat(
        block[:, :, None], 3, axis=2
    ).astype(np.uint8)
    if noise:
        # sprinkle small specks that must be rejected by P4/P5 filters
        ys = rng.integers(0, PAGE_H - 8, size=noise)
        xs = rng.integers(0, PAGE_W - 8, size=noise)
        for yy, xx in zip(ys, xs):
            page[yy : yy + 6, xx : xx + 6] = 0
    return page


# ---------------------------------------------------------------------------
# T9 preprocessing chain (utils.py:24-39), numpy re-expression
# ---------------------------------------------------------------------------


def _gaussian_kernel1d(ksize: int) -> np.ndarray:
    # cv2.getGaussianKernel default sigma for given ksize
    sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize) - (ksize - 1) / 2.0
    k = np.exp(-(x**2) / (2.0 * sigma**2))
    return k / k.sum()


def _conv_axis0(img: np.ndarray, kf: np.ndarray) -> np.ndarray:
    """1-D convolution along axis 0 with reflect-101 border, operating
    on contiguous row slices with a reused scratch buffer (no
    per-term temporaries)."""
    r = len(kf) // 2
    h = img.shape[0]
    p = np.pad(img, ((r, r), (0, 0)), mode="reflect")
    out = p[0:h] * kf[0]
    tmp = np.empty_like(out)
    for i in range(1, len(kf)):
        np.multiply(p[i : i + h], kf[i], out=tmp)
        out += tmp
    return out


def _sep_convolve(img: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Separable 2-D convolution with reflect-101 borders (cv2
    default).  Both passes run along axis 0 (contiguous slices) with a
    transpose between — strided column slices cost more than the two
    transposed copies at the typical page sizes.  Runs per detected
    image entity inside the hot mapInPandas stage."""
    kf = k.astype(np.float32)
    rows = _conv_axis0(img.astype(np.float32, copy=False), kf)
    return np.ascontiguousarray(
        _conv_axis0(np.ascontiguousarray(rows.T), kf).T
    )


_GRAY_W = np.array([0.114, 0.587, 0.299], dtype=np.float32)  # B, G, R


def bgr_to_gray(img: np.ndarray) -> np.ndarray:
    """cv2.COLOR_BGR2GRAY weights (utils.py:27), float32.  One BLAS
    matvec over the channel axis instead of three scaled adds."""
    f = img.astype(np.float32, copy=False)
    return f @ _GRAY_W


def prepare_for_detection(img: np.ndarray) -> np.ndarray:
    """Gray -> blur(5x5) -> adaptive gaussian threshold(11, C=2,
    BINARY_INV) -> morph close (3x3).  Mirrors utils.py:26-37."""
    gray = bgr_to_gray(img)
    smooth = _sep_convolve(gray, _gaussian_kernel1d(5))
    local_mean = _sep_convolve(smooth, _gaussian_kernel1d(11))
    binary = (smooth <= local_mean - 2.0).astype(np.uint8)  # INV, C=2
    # close = dilate then erode with 3x3 ones
    return _morph3(_morph3(binary, np.maximum), np.minimum) \
        * np.uint8(255)


def _morph3(b: np.ndarray, op: np.ufunc) -> np.ndarray:
    """3x3 rank filter with edge-replicated borders: ``np.maximum``
    dilates, ``np.minimum`` erodes.  Shifted-view reductions, rows then
    cols (separable) — ~40x faster than a sliding_window_view
    reduction."""
    h, w = b.shape
    p = np.pad(b, 1, mode="edge")
    rows = op(op(p[0:h, 1:w + 1], p[1:h + 1, 1:w + 1]), p[2:h + 2, 1:w + 1])
    p2 = np.pad(rows, ((0, 0), (1, 1)), mode="edge")
    return op(op(p2[:, 0:w], p2[:, 1:w + 1]), p2[:, 2:w + 2])


# ---------------------------------------------------------------------------
# T11 — connected components of pixel runs (contour analog)
# ---------------------------------------------------------------------------


def connected_components(
    binary: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, int]:
    """4-connected components of ``binary > 0`` as a run table.

    Returns ``(row, x_start, x_end, comp, n)``: one entry per
    horizontal foreground run ``binary[row, x_start:x_end]`` in raster
    order, its component id in ``1..n`` (numbered in the order of each
    component's first run), and the component count.  Runs in adjacent
    rows join when their column ranges overlap."""
    h, w = binary.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = binary > 0
    # row-wise boundaries alternate: each run's start, then its end
    row, x = np.nonzero(np.diff(padded, axis=1))
    row, x_start, x_end = row[::2], x[::2], x[1::2]
    # the runs of row r+1 that overlap run i form the index range
    # [lo, hi): ends past x_start[i] and starts before x_end[i], found
    # by binary search over the raster-ordered (row, x) keys
    below = (row + 1) * (w + 1)
    lo = np.searchsorted(row * (w + 1) + x_end, below + x_start, "right")
    hi = np.searchsorted(row * (w + 1) + x_start, below + x_end, "left")
    count = np.maximum(hi - lo, 0)
    a = np.repeat(np.arange(len(row)), count)
    c = np.arange(len(a)) - np.repeat(np.cumsum(count) - count - lo, count)
    root = min_labels(a, c, len(row))
    is_root = root == np.arange(len(row))
    return row, x_start, x_end, np.cumsum(is_root)[root], int(is_root.sum())


def _laplacian_var(gray: np.ndarray) -> float:
    """Variance of the 4-neighbor Laplacian (cv2.Laplacian ksize=1
    kernel [[0,1,0],[1,-4,1],[0,1,0]], reflect-101 borders)."""
    p = np.pad(gray, 1, mode="reflect")
    lap = p[:-2, 1:-1] + p[2:, 1:-1] + p[1:-1, :-2] + p[1:-1, 2:] - 4.0 * gray
    return float(lap.var())


# ---------------------------------------------------------------------------
# minimal PNG encoder (stdlib only) for base64 mode (utils.py:130-133)
# ---------------------------------------------------------------------------


def encode_png(rgb: np.ndarray) -> bytes:
    """Encode a uint8 array as PNG: HxW gray (color type 0), HxWx3
    RGB (type 2) or HxWx4 RGBA (type 6) — the color_space /
    preserve_transparency analogs of the reference's PIL save
    (PDFPageConfig.color_space / preserve_transparency,
    parser.py:23-26)."""
    h, w = rgb.shape[:2]
    if rgb.ndim == 2:
        color_type = 0
    elif rgb.shape[2] == 3:
        color_type = 2
    elif rgb.shape[2] == 4:
        color_type = 6
    else:
        raise ValueError(f"unsupported channel count {rgb.shape[2]}")
    raw = b"".join(b"\x00" + rgb[i].tobytes() for i in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# the full extract_images operator (utils.py:62-139)
# ---------------------------------------------------------------------------


# P4 size bounds (utils.py:67, 96-104): a region is at least
# MIN_REGION_DIMS (w, h) and at most PAGE_FRAC_MAX of the page per side
MIN_REGION_DIMS = (100, 100)
PAGE_FRAC_MAX = 0.95
# P5 validity predicate (utils.py:52-57)
REGION_STD_MIN = 25.0
REGION_MEAN_LO, REGION_MEAN_HI = 20.0, 235.0
REGION_AREA_RATIO_MIN = 0.4
REGION_LAPLACIAN_VAR_MAX = 500.0


def extract_images(
    page_image: np.ndarray,
    image_mode: str,
    page_number: int,
    *,
    start_idx: int = 1,
    color_space: str = "RGB",
    alpha_plane: np.ndarray | None = None,
) -> list[dict]:
    """Detect and extract image regions from one page bitmap.

    Returns a list of ``{"image_url": ..., "base64_encoded": ...}``
    dicts in component-area-descending order (the reference's contour
    sort, utils.py:89), with reference-exact naming
    ``image_{page_number+1}_{idx}.png`` (utils.py:112,126)."""
    if page_image.ndim != 3:
        raise ValueError(f"expected HxWxC page, got shape {page_image.shape}")
    if page_image.shape[2] == 4:  # T10: BGRA -> BGR (utils.py:76-78)
        page_image = page_image[..., :3]
    elif page_image.shape[2] != 3:
        raise ValueError(
            f"Unsupported image format with {page_image.shape[2]} channels"
        )

    min_w, min_h = MIN_REGION_DIMS
    img_h, img_w = page_image.shape[:2]

    processed = prepare_for_detection(page_image)
    row, x_start, x_end, comp, n = connected_components(processed)
    if n == 0:
        return []

    # one group of runs per (component, row), groups in component then
    # row order; every component 1..n owns at least one group
    key = comp * img_h + row
    by = np.argsort(key, kind="stable")
    key = key[by]
    grp = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    left = np.minimum.reduceat(x_start[by], grp)
    right = np.maximum.reduceat(x_end[by], grp)
    g_comp, g_row = np.divmod(key[grp], img_h)
    first = np.flatnonzero(np.r_[True, g_comp[1:] != g_comp[:-1]])
    x0 = np.minimum.reduceat(left, first)
    x1 = np.maximum.reduceat(right, first)  # exclusive
    y0 = g_row[first]
    y1 = g_row[np.r_[first[1:], len(g_row)] - 1]
    # "filled" area — the analog of cv2.contourArea on a RETR_EXTERNAL
    # contour (utils.py:48): the area ENCLOSED by the outer boundary,
    # not the component's pixel count.  Computed as the sum of per-row
    # spans from the leftmost run start to the rightmost run end
    # (exact for convex/ring-shaped components).
    areas = np.add.reduceat(right - left, first)

    order = np.argsort(-areas, kind="stable")  # area-desc (T11 sort)

    idx = start_idx  # callers running several channels over ONE page
    # continue the numbering so names never collide
    out: list[dict] = []
    for k in order:
        cx, cy = int(x0[k]), int(y0[k])
        cw = int(x1[k] - x0[k])
        ch = int(y1[k] - y0[k] + 1)
        # P4 size filter (utils.py:96-104)
        if cw < min_w or ch < min_h or cw > img_w * PAGE_FRAC_MAX \
                or ch > img_h * PAGE_FRAC_MAX:
            continue
        region = page_image[cy : cy + ch, cx : cx + cw]
        # P5 validity predicate (utils.py:52-57)
        area_ratio = float(areas[k]) / float(cw * ch)
        if not (
            float(np.std(region)) > REGION_STD_MIN
            and REGION_MEAN_LO < float(np.mean(region)) < REGION_MEAN_HI
            and area_ratio > REGION_AREA_RATIO_MIN
            and _laplacian_var(bgr_to_gray(region)) < REGION_LAPLACIAN_VAR_MAX
        ):
            continue
        image_url = f"image_{page_number + 1}_{idx}.png"
        if image_mode == "url":
            out.append({"image_url": image_url, "base64_encoded": None})
        else:  # base64 (utils.py:127-139)
            rgb = region[..., ::-1].copy()
            if color_space == "GRAY":
                # color_space analog (PDFPageConfig parser.py:24):
                # 1-channel PNG of the crop's luma
                img = np.clip(np.rint(bgr_to_gray(region)),
                              0, 255).astype(np.uint8)
            elif alpha_plane is not None:
                img = np.dstack(
                    [rgb, alpha_plane[cy:cy + ch, cx:cx + cw]])
            else:
                img = rgb
            png = encode_png(img)
            b64 = base64.b64encode(png).decode("utf-8", errors="ignore")
            out.append(
                {
                    "image_url": image_url,
                    "base64_encoded": f"data:image/png;base64,{b64}",
                }
            )
        idx += 1
    return out


def page_from_image_array(arr: np.ndarray, return_alpha: bool = False):
    """Composite a decoded embedded image onto a white page canvas
    (the analog of the reference's rendered-page bitmap) so the SAME
    region-detection chain runs on it: gray -> 3-channel, RGBA -> RGB,
    then a white border sized so P4's page-fraction bound (region <=
    0.95*page, utils.py:100-104) cannot reject the image itself.
    ``return_alpha`` also returns the source's alpha plane composited
    onto an opaque page (the preserve_transparency channel,
    PDFPageConfig parser.py:26) — detection always runs on RGB; the
    alpha rejoins the crop only at PNG-encode time."""
    alpha_src = None
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    elif arr.shape[2] == 4:
        alpha_src = arr[..., 3]
        arr = arr[..., :3]
    h, w = arr.shape[:2]
    by = max(16, int(np.ceil(h * 0.06)))
    bx = max(16, int(np.ceil(w * 0.06)))
    page = np.full((h + 2 * by, w + 2 * bx, 3), 255, dtype=np.uint8)
    page[by:by + h, bx:bx + w] = arr
    if not return_alpha:
        return page
    page_alpha = np.full(page.shape[:2], 255, dtype=np.uint8)
    if alpha_src is not None:
        page_alpha[by:by + h, bx:bx + w] = alpha_src
    return page, page_alpha


def extract_images_from_marker_text(
    text: str, image_mode: str, page_number: int,
    vector_figures: bool = True, include_annotations: bool = True,
    raster_dpi: int = 72, preserve_transparency: bool = False,
    skipped_out: list | None = None, color_space: str = "RGB",
) -> list[dict]:
    """Image regions for one turn payload.

    * ``%PDF-`` payloads: embedded /XObject /Image streams are decoded
      (functions/pdf.py) and each runs through region extraction on a
      white-page composite, numbered by its PDF page index — the lift
      of the reference extracting regions from every rendered page
      (utils.py:62-141); pages that paint VECTOR ink (path fills /
      strokes — most born-digital charts and diagrams) are additionally
      rasterized by the minimal path rasterizer and region-detected,
      with idx numbering continuing after that page's embedded-image
      regions so names never collide.
    * ``[[PAGE_IMAGE ...]]`` markers: deterministic synthetic pages
      (the no-raster-libs channel), numbered by turn.

    Results concatenate in page/marker order (per-page idx numbering
    restarts like the reference's per-page calls)."""
    results: list[dict] = []
    if text and text.startswith("%PDF-"):
        from ..functions.pdf import (
            PdfParseError,
            extract_pdf_images,
            rasterize_pdf_vector_pages,
        )

        data = text.encode("latin-1", errors="replace")
        page_region_count: dict[int, int] = {}
        try:
            # skipped_out collects (page, name, reason) for images
            # with no decoder (JPX/JBIG2) or a failed decode — the
            # pipeline surfaces them in the error column so codec
            # loss is never silent
            embedded = extract_pdf_images(data, skipped_out=skipped_out)
        except (PdfParseError, ValueError):
            embedded = []
        for page_idx, _name, arr in embedded:
            # continue idx numbering across a page's MULTIPLE embedded
            # images too — per-XObject restarts would collide names
            alpha = None
            if preserve_transparency and arr.ndim == 3 \
                    and arr.shape[2] == 4:
                page, alpha = page_from_image_array(arr,
                                                    return_alpha=True)
            else:
                page = page_from_image_array(arr)
            found = extract_images(
                page, image_mode, page_idx,
                start_idx=page_region_count.get(page_idx, 0) + 1,
                color_space=color_space, alpha_plane=alpha)
            page_region_count[page_idx] = (
                page_region_count.get(page_idx, 0) + len(found))
            results.extend(found)
        try:
            vector_pages = rasterize_pdf_vector_pages(
                data, scale=raster_dpi / 72.0,
                include_annotations=include_annotations) \
                if vector_figures else []
        except (PdfParseError, ValueError):
            vector_pages = []
        for page_idx, canvas in vector_pages:
            # crop to the ink bounding box first: figures cover a small
            # fraction of the page, and the CV chain is O(pixels) — the
            # white-border composite (page_from_image_array) restores
            # the margin the P4 page-fraction bound needs, exactly like
            # the embedded-image channel (measured 4x cheaper/payload)
            ys, xs = np.nonzero(canvas < 250)
            if len(ys) == 0:
                continue
            canvas = canvas[ys.min():ys.max() + 1, xs.min():xs.max() + 1]
            # antialias the hard-edged scanline raster (a real renderer
            # — the reference's pdfium — draws soft edges; without this
            # the P5 Laplacian-variance bound rejects every crisp
            # synthetic edge as "text-like")
            canvas = _sep_convolve(
                canvas.astype(np.float64), _gaussian_kernel1d(5)
            ).astype(np.uint8)
            page = page_from_image_array(canvas)
            results.extend(
                extract_images(
                    page, image_mode, page_idx,
                    start_idx=page_region_count.get(page_idx, 0) + 1,
                    color_space=color_space)
            )
    for m in PAGE_IMAGE_MARKER_RE.finditer(text or ""):
        w, h, seed = int(m.group(1)), int(m.group(2)), int(m.group(3))
        noise = int(m.group(4) or 0)
        page = render_page(w, h, seed, noise)
        results.extend(
            extract_images(page, image_mode, page_number,
                           color_space=color_space)
        )
    return results
