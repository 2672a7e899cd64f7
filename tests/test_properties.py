"""Property-based tests (hypothesis) for the invariants the golden
fixtures cannot cover exhaustively."""

import re

import pandas as pd
from struct import error as struct_error
from hypothesis import given, settings
from hypothesis import strategies as st

from vision_parse_spark import ExtractConfig
from vision_parse_spark.functions.classify import classify_batch
from vision_parse_spark.functions.fences import strip_code_fences
from vision_parse_spark.functions.markdown import format_markdown_batch
from vision_parse_spark.operators.pipeline import extract_pandas

TEXTS = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@given(TEXTS)
@settings(max_examples=200, deadline=None)
def test_fence_strip_equals_reference_regex(s):
    """T6 must be byte-identical to the reference's re.sub
    (llm.py:444-449) on arbitrary input."""
    ours = strip_code_fences(pd.Series([s])).iloc[0]
    ref = re.sub(r"```(?:markdown)?\n(.*?)\n```", r"\1", s, flags=re.DOTALL)
    assert ours == ref


@given(st.lists(TEXTS, min_size=1, max_size=8))
@settings(max_examples=60, deadline=None)
def test_pipeline_never_drops_rows(texts):
    """P1 ethos: the extraction stage emits exactly one output row per
    input row for ANY payload."""
    pdf = pd.DataFrame(
        {"conv_id": ["c"] * len(texts),
         "turn_idx": list(range(len(texts))),
         "text": texts}
    )
    out = extract_pandas(pdf, ExtractConfig(image_mode="url"))
    assert len(out) == len(texts)
    assert list(out.turn_idx) == list(range(len(texts)))
    assert out.markdown.notna().all()


@given(TEXTS)
@settings(max_examples=100, deadline=None)
def test_classifier_total_and_typed(s):
    """Classification never fails and always emits the full struct."""
    row = classify_batch(pd.Series([s])).iloc[0]
    assert row.payload_kind in {"plain", "html", "pdf_text", "binary"}
    assert isinstance(bool(row.text_detected), bool)
    assert 0.0 <= float(row.confidence) <= 1.0


@given(st.lists(TEXTS, min_size=1, max_size=6))
@settings(max_examples=60, deadline=None)
def test_formatter_batch_independence(texts):
    """Vectorization must not leak state across rows: formatting a
    batch equals formatting each row alone."""
    s = pd.Series(texts)
    f = pd.Series([False] * len(texts))
    batch = format_markdown_batch(s, f, f)
    singles = [
        format_markdown_batch(pd.Series([t]), pd.Series([False]),
                              pd.Series([False])).iloc[0]
        for t in texts
    ]
    assert list(batch) == singles


@given(TEXTS)
@settings(max_examples=100, deadline=None)
def test_formatter_preserves_words(s):
    """'do not change any content' (markdown_prompt.j2:7): every
    alphanumeric word in the input survives formatting."""
    out = format_markdown_batch(
        pd.Series([s]), pd.Series([False]), pd.Series([False])
    ).iloc[0]
    from collections import Counter

    in_words = Counter(re.findall(r"[A-Za-z0-9]+", s))
    out_words = Counter(re.findall(r"[A-Za-z0-9]+", out))
    # formatting only adds structure tokens; it never deletes words
    assert in_words <= out_words


# --- PDF text-layer codec properties (functions/pdf.py) ---------------

# printable latin-1 text lines (PDF literal strings carry any byte;
# the writer escapes specials, the parser must undo them exactly)
PDF_LINE = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0xFF,
                           blacklist_characters="\x7f"),
    min_size=0, max_size=80,
)


@given(st.lists(st.lists(PDF_LINE, min_size=1, max_size=6),
                min_size=1, max_size=4),
       st.booleans())
@settings(max_examples=80, deadline=None)
def test_pdf_writer_parser_round_trip(pages, compress):
    """make_pdf_bytes -> extract_pdf_pages is the identity on line
    content (modulo the parser's trailing-space strip per line) for
    arbitrary latin-1 page text, compressed or raw."""
    from vision_parse_spark.functions.pdf import (
        extract_pdf_pages,
        make_pdf_bytes,
    )

    got = extract_pdf_pages(make_pdf_bytes(pages, compress=compress))
    want = ["\n".join(line.rstrip() for line in p).strip("\n")
            for p in pages]
    assert got == want


@given(st.binary(max_size=300))
@settings(max_examples=120, deadline=None)
def test_pdf_series_total_on_garbage(data):
    """extract_pdf_text_series never raises: arbitrary bytes behind a
    %PDF- header fall back to the header-strip path (error-as-data
    ethos — a corrupt payload must not kill the batch)."""
    from vision_parse_spark.functions.pdf import extract_pdf_text_series

    payload = ("%PDF-1.4\n" + data.decode("latin-1")
               if data else "%PDF-")
    out, ok, _, _ = extract_pdf_text_series(pd.Series([payload]))
    assert len(out) == 1 and isinstance(out.iloc[0], str)


@given(
    st.integers(min_value=8, max_value=60),   # h
    st.integers(min_value=8, max_value=60),   # w
    st.integers(min_value=0, max_value=200),  # base level
    st.booleans(),                            # subsample
    st.booleans(),                            # gray
)
@settings(max_examples=40, deadline=None)
def test_jpeg_round_trip_bounded_error(h, w, base, subsample, gray):
    """encode_jpeg -> decode_jpeg on smooth images keeps every pixel
    within quantization error at q=90, for arbitrary odd/even dims,
    both samplings, gray and RGB."""
    import numpy as np

    from vision_parse_spark.functions.jpeg import decode_jpeg
    from writers import encode_jpeg

    # genuinely smooth: a scaled linear ramp, no modulo wraparound
    ramp = (np.add.outer(np.arange(h), np.arange(w))
            * (50.0 / max(h + w - 2, 1)))
    if gray:
        img = np.clip(base + ramp, 0, 255).astype(np.uint8)
    else:
        img = np.clip(
            base + np.stack([ramp, ramp[::-1], ramp[:, ::-1]], axis=-1),
            0, 255).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=90, subsample=subsample))
    assert dec.shape == img.shape
    tol = 16 if subsample else 8
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol


@given(st.binary(max_size=200))
@settings(max_examples=120, deadline=None)
def test_jpeg_decoder_total_on_garbage(data):
    """decode_jpeg never hangs or crashes the interpreter on arbitrary
    bytes: it either decodes or raises a typed error."""
    import pytest as _pytest

    from vision_parse_spark.functions.jpeg import decode_jpeg

    with _pytest.raises((ValueError, NotImplementedError, struct_error,
                         IndexError)):
        decode_jpeg(b"\xff\xd8" + data)


@given(st.binary(max_size=120), st.integers(min_value=4, max_value=64))
@settings(max_examples=120, deadline=None)
def test_ccitt_decoder_total_on_garbage(data, columns):
    """decode_g4 on arbitrary bytes either decodes some rows or raises
    a typed error — never an unbounded loop or interpreter crash."""
    from vision_parse_spark.functions.ccitt import decode_g4

    try:
        img = decode_g4(data, columns=columns)
        assert img.ndim == 2 and (img.shape[1] == columns
                                  or img.shape[0] == 0)
    except ValueError:
        pass


@given(st.binary(max_size=400))
@settings(max_examples=80, deadline=None)
def test_annot_paths_total_on_garbage(data):
    """Round 5: the /Annots resolution + glyph-ink raster channels
    must be as total as the text channel — arbitrary bytes spliced
    into a structurally valid PDF (page body, /AP dict, appearance
    stream) never raise out of extract_pdf_text_series or the image
    operator."""
    from vision_parse_spark.functions.pdf import extract_pdf_text_series
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    junk = data.decode("latin-1")
    body = (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Contents 4 0 R /Annots [5 0 R 6 0 R] >>\nendobj\n"
        "4 0 obj\n<< /Length 26 >>\nstream\nBT 9e9 Tf (x) Tj ET 0 0 re f"
        "\nendstream\nendobj\n"
        "5 0 obj\n<< /Type /Annot /Subtype /Widget /Rect [0 0 " + junk[:40]
        + "] /AP << /N 7 0 R >> >>\nendobj\n"
        "6 0 obj\n<< /Type /Annot /AP << /N << /" + junk[:20].replace("\x00", "z")
        + " 7 0 R >> >> /Rect [10 10 20 20] >>\nendobj\n"
        "7 0 obj\n<< /Subtype /Form /BBox [0 0 0 0] /Length "
        + str(len(junk)) + " >>\nstream\n" + junk + "\nendstream\nendobj\n"
        "trailer\n<< /Root 1 0 R >>\n"
    )
    out, ok, _, _ = extract_pdf_text_series(pd.Series([body]))
    assert len(out) == 1 and isinstance(out.iloc[0], str)
    imgs = extract_images_from_marker_text(body, "url", 0)
    assert isinstance(imgs, list)


@given(st.integers(min_value=1, max_value=3000).flatmap(
    lambda n: st.tuples(st.integers(0, 10**12 - n), st.just(n))))
@settings(max_examples=60, deadline=None)
def test_synth_keys_unique_over_any_id_range(span):
    """``(conv_id, turn_idx)`` is a key of the synthetic transcripts for
    any contiguous global-id range up to the 10^12-turn scale."""
    import numpy as np

    from vision_parse_spark.synth import gen_payloads

    start, n = span
    pdf = gen_payloads(np.arange(start, start + n))
    assert not pdf.duplicated(["conv_id", "turn_idx"]).any()


@given(st.integers(min_value=2, max_value=3000).flatmap(
    lambda n: st.tuples(st.integers(0, 10**12 - n), st.just(n))))
@settings(max_examples=60, deadline=None)
def test_ids_to_conv_monotone_over_any_id_range(span):
    """From one global id to the next, either the conversation stays
    and ``turn_idx`` rises by 1, or the next conversation starts at
    turn 0 — over any contiguous id range up to 10^12."""
    import numpy as np

    from vision_parse_spark.synth import ids_to_conv

    start, n = span
    conv, turn = ids_to_conv(np.arange(start, start + n, dtype=np.int64))
    step = np.diff(conv)
    assert set(np.unique(step)) <= {0, 1}
    assert np.all(np.where(step == 0, np.diff(turn) == 1, turn[1:] == 0))
