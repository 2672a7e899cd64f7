"""T8-T12 image-region pipeline tests — numpy re-expression of
/root/reference/src/vision_parse/utils.py:24-139 with every constant
preserved (sizes >=100, <=0.95*page, std>25, 20<mean<235,
area_ratio>0.4, laplacian var<500, area-descending emit order,
image_{page+1}_{idx}.png naming)."""

import base64
import zlib

import numpy as np
import pytest

from vision_parse_spark.operators.images import (
    connected_components,
    encode_png,
    extract_images,
    extract_images_from_marker_text,
    render_page,
)


def _comp_at(runs, y, x):
    """Component id of the run covering pixel (y, x); 0 if none does."""
    row, x_start, x_end, comp, _n = runs
    hit = (row == y) & (x_start <= x) & (x < x_end)
    assert hit.sum() <= 1
    return int(comp[hit][0]) if hit.any() else 0


def test_connected_components_basic():
    b = np.zeros((20, 20), dtype=np.uint8)
    b[2:6, 2:6] = 255
    b[10:15, 10:18] = 255
    runs = connected_components(b)
    assert runs[4] == 2
    assert _comp_at(runs, 3, 3) == 1  # numbered by first run
    assert _comp_at(runs, 12, 12) == 2
    assert _comp_at(runs, 0, 0) == 0  # background is in no run
    row, x_start, x_end, _comp, _n = runs
    assert int((x_end - x_start).sum()) == int((b > 0).sum())


def test_connected_components_ring_merges():
    b = np.zeros((30, 30), dtype=np.uint8)
    b[5:25, 5:7] = 255   # left bar
    b[5:25, 23:25] = 255  # right bar
    b[5:7, 5:25] = 255   # top bar
    b[23:25, 5:25] = 255  # bottom bar
    runs = connected_components(b)
    assert runs[4] == 1
    assert set(runs[3].tolist()) == {1}
    assert _comp_at(runs, 15, 15) == 0  # the hole is background


def _flood_fill_labels(b):
    """Reference 4-connected labelling: components numbered in raster
    order of their first pixel, 0 = background."""
    h, w = b.shape
    lab = np.zeros((h, w), dtype=np.int64)
    n = 0
    for y in range(h):
        for x in range(w):
            if b[y, x] and not lab[y, x]:
                n += 1
                lab[y, x] = n
                stack = [(y, x)]
                while stack:
                    cy, cx = stack.pop()
                    for ny, nx in ((cy - 1, cx), (cy + 1, cx),
                                   (cy, cx - 1), (cy, cx + 1)):
                        if 0 <= ny < h and 0 <= nx < w and b[ny, nx] \
                                and not lab[ny, nx]:
                            lab[ny, nx] = n
                            stack.append((ny, nx))
    return lab, n


@pytest.mark.parametrize("seed", range(12))
def test_connected_components_matches_flood_fill(seed):
    rng = np.random.default_rng(seed)
    h, w = rng.integers(1, 40, size=2)
    b = rng.random((h, w)) < rng.uniform(0.2, 0.8)
    row, x_start, x_end, comp, n = connected_components(b * np.uint8(255))
    got = np.zeros((h, w), dtype=np.int64)
    for r, s, e, k in zip(row, x_start, x_end, comp):
        got[r, s:e] = k
    want, want_n = _flood_fill_labels(b)
    assert n == want_n
    assert np.array_equal(got, want)


def test_region_detected_on_synthetic_page():
    page = render_page(150, 150, seed=7)
    out = extract_images(page, "url", page_number=0)
    assert len(out) == 1
    assert out[0]["image_url"] == "image_1_1.png"  # utils.py:112 naming
    assert out[0]["base64_encoded"] is None


def test_small_region_filtered():
    # P4: w or h < 100 -> dropped (utils.py:96-99)
    page = render_page(60, 60, seed=7)
    assert extract_images(page, "url", page_number=0) == []


def test_full_page_region_filtered():
    # P4: > 0.95 * page dims -> dropped (utils.py:100-103)
    page = render_page(2000, 2000, seed=3)
    assert extract_images(page, "url", page_number=0) == []


def test_noise_specks_rejected():
    page = render_page(150, 150, seed=7, noise=10)
    out = extract_images(page, "url", page_number=0)
    assert len(out) == 1  # only the real region survives P4/P5


def test_base64_mode_data_uri_and_valid_png():
    page = render_page(120, 130, seed=11)
    out = extract_images(page, "base64", page_number=4)
    assert len(out) == 1
    assert out[0]["image_url"] == "image_5_1.png"  # page_number+1
    uri = out[0]["base64_encoded"]
    assert uri.startswith("data:image/png;base64,")
    png = base64.b64decode(uri.split(",", 1)[1])
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    # IDAT decompresses to h * (1 + w*3) filtered bytes
    assert zlib.decompress(png[png.index(b"IDAT") + 4 : png.rindex(b"IEND") - 4])


def test_marker_text_extraction():
    text = "para.\n\n[[PAGE_IMAGE w=140 h=120 seed=99]]\n"
    out = extract_images_from_marker_text(text, "url", page_number=2)
    assert [d["image_url"] for d in out] == ["image_3_1.png"]


def test_bgra_input_accepted():
    page = render_page(150, 150, seed=7)
    bgra = np.dstack([page, np.full(page.shape[:2], 255, dtype=np.uint8)])
    assert len(extract_images(bgra, "url", 0)) == 1


def test_deterministic_across_calls():
    a = extract_images(render_page(150, 150, seed=5), "base64", 0)
    b = extract_images(render_page(150, 150, seed=5), "base64", 0)
    assert a == b


def test_encode_png_roundtrip_shape():
    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    png = encode_png(rgb)
    raw = zlib.decompress(png[png.index(b"IDAT") + 4 : png.rindex(b"IEND") - 4])
    assert len(raw) == 2 * (1 + 3 * 3)


# ---------------------------------------------------------------------------
# round 5: PDFPageConfig knob parity (parser.py:20-26) — raster_dpi,
# color_space, preserve_transparency
# ---------------------------------------------------------------------------


def _png_header(png: bytes) -> tuple[int, int, int]:
    """(width, height, color_type) from the IHDR chunk."""
    import struct

    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    w, h, _bits, ct = struct.unpack(">IIBB", png[16:26])
    return w, h, ct


def test_encode_png_gray_and_rgba_color_types():
    import numpy as np

    gray = (np.arange(200, dtype=np.uint8).reshape(10, 20))
    png = encode_png(gray)
    assert _png_header(png) == (20, 10, 0)
    raw = zlib.decompress(png[png.index(b"IDAT") + 4:
                              png.rindex(b"IEND") - 4])
    assert len(raw) == 10 * (1 + 20)

    rgba = np.zeros((6, 7, 4), dtype=np.uint8)
    rgba[..., 3] = 128
    png = encode_png(rgba)
    assert _png_header(png) == (7, 6, 6)
    raw = zlib.decompress(png[png.index(b"IDAT") + 4:
                              png.rindex(b"IEND") - 4])
    assert len(raw) == 6 * (1 + 7 * 4)


def test_color_space_gray_crop():
    page = render_page(150, 150, seed=7)
    out = extract_images(page, "base64", 0, color_space="GRAY")
    assert out
    png = base64.b64decode(out[0]["base64_encoded"].split(",", 1)[1])
    assert _png_header(png)[2] == 0  # 1-channel


def test_preserve_transparency_rgba_region():
    """An RGBA embedded image keeps its alpha plane through to the
    region PNG when preserve_transparency=True (PDFPageConfig
    parser.py:26); default flattens to RGB."""
    import numpy as np

    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    # smooth gradient block (passes P5's laplacian bound) + flat alpha
    grad = np.linspace(60, 200, 160).astype(np.uint8)
    arr = np.empty((160, 160, 4), dtype=np.uint8)
    arr[..., 0] = arr[..., 1] = arr[..., 2] = grad[None, :]
    arr[..., 3] = 200  # uniform partial alpha
    payload = make_pdf_bytes([["img page"]], images={0: arr}) \
        .decode("latin-1")
    on = extract_images_from_marker_text(
        payload, "base64", 0, preserve_transparency=True)
    assert on
    png = base64.b64decode(on[0]["base64_encoded"].split(",", 1)[1])
    w, h, ct = _png_header(png)
    assert ct == 6
    raw = zlib.decompress(png[png.index(b"IDAT") + 4:
                              png.rindex(b"IEND") - 4])
    # rows are filter-0 prefixed RGBA; alpha bytes inside the source
    # image area must be 200 (border is opaque 255)
    px = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + w * 4)[:, 1:]
    alphas = px.reshape(h, w, 4)[..., 3]
    assert (alphas == 200).sum() > 0.5 * alphas.size
    off = extract_images_from_marker_text(payload, "base64", 0)
    png2 = base64.b64decode(off[0]["base64_encoded"].split(",", 1)[1])
    assert _png_header(png2)[2] == 2  # flattened RGB


def test_raster_dpi_scales_vector_canvas():
    from vision_parse_spark.functions.pdf import (
        make_pdf_bytes,
        rasterize_pdf_vector_pages,
    )

    pdf = make_pdf_bytes([["chart"]], vector_figures=[0])
    lo = rasterize_pdf_vector_pages(pdf, scale=1.0)[0][1]
    hi = rasterize_pdf_vector_pages(pdf, scale=2.0)[0][1]
    assert hi.shape == (lo.shape[0] * 2, lo.shape[1] * 2)


def test_raster_dpi_144_still_detects_figure():
    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    payload = make_pdf_bytes([["chart"]], vector_figures=[0]) \
        .decode("latin-1")
    out = extract_images_from_marker_text(payload, "url", 0,
                                          raster_dpi=144)
    assert [d["image_url"] for d in out] == ["image_1_1.png"]


def test_config_validates_new_knobs():
    import pytest as _pytest

    from vision_parse_spark import ExtractConfig

    ExtractConfig(raster_dpi=144, color_space="GRAY").validate()
    with _pytest.raises(ValueError):
        ExtractConfig(raster_dpi=10).validate()
    with _pytest.raises(ValueError):
        ExtractConfig(color_space="CMYK").validate()
