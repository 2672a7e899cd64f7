"""C8/P6 error-surface tests — the lift of the reference's error-path
unit tests (tests/test_parser.py:12-27,49-59) to error-as-data plus
strict-mode raises."""

import functools

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from vision_parse_spark import ExtractConfig, extract_pandas
from vision_parse_spark.errors import (
    UnsupportedPayloadError,
    VisionParseSparkError,
)
from vision_parse_spark.functions.classify import detect_payload_kind
from vision_parse_spark.functions.pdf import make_pdf_bytes
from vision_parse_spark.synth import synth_transcripts_pdf
from writers import encode_jpeg, encrypt_pdf_bytes, make_pdf_bytes_xobject

BINARY = "\x00\x01\x02\x03PK\x00\x04 compressed junk \x00\x05"
MOSTLY_CTRL = "\x01\x02\x03\x04\x05\x06ab"


def test_binary_payload_detected():
    kinds = detect_payload_kind(pd.Series([BINARY, MOSTLY_CTRL, "plain ok."]))
    assert list(kinds) == ["binary", "binary", "plain"]


def test_pdf_header_not_binary():
    # %PDF- payloads stay pdf_text even with control chars inside
    kinds = detect_payload_kind(pd.Series(["%PDF-1.4\n\x00\x00stream"]))
    assert list(kinds) == ["pdf_text"]


def test_unsupported_payload_error_as_data():
    pdf = pd.DataFrame({"conv_id": ["c"] * 2, "turn_idx": [0, 1],
                        "text": [BINARY, "fine text."]})
    out = extract_pandas(pdf, ExtractConfig())
    assert len(out) == 2  # row kept
    assert list(out.status) == ["unsupported", "ok"]
    assert out.markdown.iloc[0] == ""
    assert out.markdown.iloc[1] == "fine text."


def test_strict_mode_raises_like_reference():
    # parser.py:157-161 raises UnsupportedFileError on bad input
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "text": [BINARY]})
    with pytest.raises(UnsupportedPayloadError):
        extract_pandas(pdf, ExtractConfig(strict=True))


def test_error_taxonomy_hierarchy():
    assert issubclass(UnsupportedPayloadError, VisionParseSparkError)


def test_newlines_tabs_not_binary():
    kinds = detect_payload_kind(pd.Series(["line one\nline two\ttabbed\r\n"]))
    assert list(kinds) == ["plain"]


# ---------------------------------------------------------------------------
# poison rows as a property: one malformed payload anywhere in a clean
# batch leaves every other row's output unchanged, and its own output
# does not depend on the rows around it
# ---------------------------------------------------------------------------

_N_CLEAN = 32
_DCT = ("/Width 64 /Height 48 /ColorSpace /DeviceRGB /BitsPerComponent 8 "
        "/Filter /DCTDecode")
_JUNK = bytes(range(256)) * 2
POISON_KINDS = (
    "pdf_truncated", "pdf_no_endstream", "pdf_garbage", "pdf_locked",
    "dct_scan_truncated", "dct_header_truncated", "dct_garbage",
    "jbig2_garbage", "ccitt_garbage", "html_unclosed", "binary",
)


@functools.lru_cache(maxsize=None)
def _clean_output(image_mode):
    return extract_pandas(synth_transcripts_pdf(_N_CLEAN),
                          ExtractConfig(image_mode=image_mode))


def _poison(kind: str, frac: float) -> str:
    """One malformed payload; ``frac`` places the truncation cuts."""
    img = np.linspace(40, 220, 48 * 64 * 3).reshape(48, 64, 3) \
        .astype(np.uint8)
    pdf = make_pdf_bytes([["poison page", "second line"]], images={0: img})
    jpg = encode_jpeg(img, 90)
    sos = jpg.rindex(b"\xff\xda")
    scan = sos + 2 + int.from_bytes(jpg[sos + 2:sos + 4], "big")
    payload = {
        "pdf_truncated": pdf[:int(len(pdf) * frac)],
        "pdf_no_endstream": pdf.replace(b"endstream", b"", 1),
        "pdf_garbage": b"%PDF-" + _JUNK,
        "pdf_locked": encrypt_pdf_bytes(pdf, user_pwd=b"pw"),
        "dct_scan_truncated": make_pdf_bytes_xobject(
            jpg[:scan + int((len(jpg) - 2 - scan) * frac)], _DCT),
        "dct_header_truncated": make_pdf_bytes_xobject(
            jpg[:2 + int((scan - 2) * frac)], _DCT),
        "dct_garbage": make_pdf_bytes_xobject(b"\xff\xd8" + _JUNK, _DCT),
        "jbig2_garbage": make_pdf_bytes_xobject(
            _JUNK, "/Width 64 /Height 48 /BitsPerComponent 1 "
                   "/Filter /JBIG2Decode"),
        "ccitt_garbage": make_pdf_bytes_xobject(
            _JUNK, "/Width 64 /Height 48 /BitsPerComponent 1 "
                   "/Filter /CCITTFaxDecode "
                   "/DecodeParms << /K -1 /Columns 64 /Rows 48 >>"),
        "html_unclosed": ("<html><body>"
                          + "<div><p>unclosed <b>tag " * 50).encode(),
        "binary": _JUNK,
    }[kind]
    return payload.decode("latin-1")


@given(st.sampled_from(POISON_KINDS),
       st.integers(min_value=0, max_value=_N_CLEAN - 1),
       st.sampled_from([None, "url"]),
       st.floats(min_value=0.0, max_value=0.99))
@example("dct_scan_truncated", 5, "url", 0.5)
@settings(max_examples=60, deadline=None)
def test_one_poison_row_changes_no_other_row(kind, pos, image_mode, frac):
    batch = synth_transcripts_pdf(_N_CLEAN)
    batch.loc[pos, "text"] = _poison(kind, frac)
    cfg = ExtractConfig(image_mode=image_mode)
    out = extract_pandas(batch, cfg)
    assert len(out) == _N_CLEAN
    assert out.drop(index=pos).equals(_clean_output(image_mode)
                                      .drop(index=pos))
    alone = extract_pandas(batch.iloc[[pos]].reset_index(drop=True), cfg)
    assert out.iloc[[pos]].reset_index(drop=True).equals(alone)
    if kind == "dct_scan_truncated" and image_mode == "url":
        assert "jpeg_decode_failed:JPEG scan truncated" in out.error[pos]
