"""JBIG2 generic-region decoder tests: MQ round trips against the
test-side encoder (``writers.MQEncoder`` / ``encode_generic_region``,
which mirror the decoder's spec walk), embedded segment-stream
composition, MMR regions, honest NotImplementedError boundaries, and
the /JBIG2Decode PDF image-channel integration."""

import struct

import numpy as np
import pytest

from vision_parse_spark.functions.jbig2 import (
    MQDecoder,
    decode_generic_region,
    decode_jbig2_embedded,
)
from writers import MQEncoder, encode_generic_region

# ---------------- fixture builders ----------------


def _seg(num: int, typ: int, page: int, data: bytes,
         refs: tuple = ()) -> bytes:
    out = struct.pack(">I", num)
    out += bytes([typ])                       # 1-byte page assoc
    out += bytes([len(refs) << 5])
    out += bytes(refs)
    out += bytes([page])
    out += struct.pack(">I", len(data))
    return out + data


def _page_info(w: int, h: int, default_pixel: int = 0) -> bytes:
    return struct.pack(">IIII", w, h, 0, 0) + bytes(
        [default_pixel << 2]) + b"\x00\x00"


def _generic_region_seg(bmp: np.ndarray, x: int = 0, y: int = 0,
                        template: int = 0,
                        tpgdon: bool = False) -> bytes:
    h, w = bmp.shape
    gflags = (template << 1) | (8 if tpgdon else 0)
    at = {0: [(3, -1), (-3, -1), (2, -2), (-2, -2)],
          1: [(3, -1)], 2: [(2, -1)], 3: [(2, -1)]}[template]
    atb = b"".join(struct.pack(">bb", ax, ay) for ax, ay in at)
    mq = encode_generic_region(bmp, template=template, tpgdon=tpgdon)
    return (struct.pack(">IIII", w, h, x, y) + b"\x00"
            + bytes([gflags]) + atb + mq)


def make_jbig2_embedded(bmp: np.ndarray, template: int = 0,
                        tpgdon: bool = False) -> bytes:
    h, w = bmp.shape
    return (_seg(0, 48, 1, _page_info(w, h))
            + _seg(1, 38, 1, _generic_region_seg(
                bmp, template=template, tpgdon=tpgdon))
            + _seg(2, 49, 1, b""))


def _rand_bmp(h, w, density=0.3, seed=0):
    rng = np.random.default_rng(seed)
    return (rng.random((h, w)) < density).astype(np.uint8)


# ---------------- MQ coder ----------------


def test_mq_round_trip_multi_context():
    import random

    random.seed(11)
    for n, n_ctx in ((1, 1), (40, 4), (900, 16), (5000, 64)):
        bits = [random.random() < 0.3 for _ in range(n)]
        ids = [random.randrange(n_ctx) for _ in range(n)]
        enc = MQEncoder()
        ecx = [[0, 0] for _ in range(n_ctx)]
        for b, c in zip(bits, ids):
            enc.encode(ecx[c], int(b))
        dec = MQDecoder(enc.flush())
        dcx = [[0, 0] for _ in range(n_ctx)]
        assert [dec.decode(dcx[c]) for c in ids] == [int(b)
                                                     for b in bits]


def test_mq_decoder_feeds_ones_past_end():
    # an empty stream must not crash — the decoder synthesizes 1-bits
    dec = MQDecoder(b"")
    cx = [0, 0]
    for _ in range(64):
        assert dec.decode(cx) in (0, 1)


# ---------------- generic region ----------------


@pytest.mark.parametrize("template", [0, 1, 2, 3])
@pytest.mark.parametrize("tpgdon", [False, True])
def test_generic_region_round_trip(template, tpgdon):
    bmp = _rand_bmp(24, 40, 0.3, seed=template * 2 + tpgdon)
    data = encode_generic_region(bmp, template=template, tpgdon=tpgdon)
    out = decode_generic_region(data, 40, 24, template=template,
                                tpgdon=tpgdon)
    assert np.array_equal(out, bmp)


def test_generic_region_custom_and_same_row_at():
    bmp = _rand_bmp(12, 18, 0.4, seed=9)
    ats = [(1, -1), (-1, -2), (3, -2), (-4, -1)]   # off-nominal
    out = decode_generic_region(
        encode_generic_region(bmp, at=ats), 18, 12, at=ats)
    assert np.array_equal(out, bmp)
    ats = [(-1, 0), (-3, -1), (2, -2), (-2, -2)]   # same-row slow path
    out = decode_generic_region(
        encode_generic_region(bmp, at=ats), 18, 12, at=ats)
    assert np.array_equal(out, bmp)


def test_generic_region_tpgdon_compresses_repeated_rows():
    bmp = np.tile(_rand_bmp(1, 64, 0.5, seed=3), (64, 1))
    plain = encode_generic_region(bmp, tpgdon=False)
    tp = encode_generic_region(bmp, tpgdon=True)
    assert len(tp) < len(plain) / 4          # row-copy rows cost ~1 bit


def test_generic_region_validation():
    with pytest.raises(ValueError, match="GBTEMPLATE"):
        decode_generic_region(b"", 4, 4, template=7)
    with pytest.raises(ValueError, match="bad region"):
        decode_generic_region(b"", 0, 4)
    with pytest.raises(ValueError, match="non-causal"):
        decode_generic_region(b"", 4, 4, at=[(1, 0), (-3, -1),
                                             (2, -2), (-2, -2)])
    with pytest.raises(ValueError, match="AT pixels"):
        decode_generic_region(b"", 4, 4, at=[(3, -1)])


# ---------------- embedded segment stream ----------------


def test_embedded_stream_decodes_with_pdf_bit_sense():
    bmp = _rand_bmp(16, 24, 0.25, seed=4)
    img = decode_jbig2_embedded(make_jbig2_embedded(bmp))
    assert img.shape == (16, 24) and img.dtype == np.uint8
    # JBIG2 1 = black = gray sample 0 (the pdf.js inversion)
    assert np.array_equal(img == 0, bmp.astype(bool))


def test_embedded_stream_region_offset_composition():
    bmp = np.ones((4, 6), dtype=np.uint8)
    data = (_seg(0, 48, 1, _page_info(12, 10))
            + _seg(1, 38, 1, _generic_region_seg(bmp, x=3, y=2))
            + _seg(2, 49, 1, b""))
    img = decode_jbig2_embedded(data)
    assert img.shape == (10, 12)
    assert (img[2:6, 3:9] == 0).all()
    assert (img == 0).sum() == 24            # rest stays white


def test_embedded_stream_globals_carry_page_info():
    bmp = _rand_bmp(8, 8, 0.5, seed=6)
    gl = _seg(0, 48, 1, _page_info(8, 8))
    data = _seg(1, 38, 1, _generic_region_seg(bmp))
    img = decode_jbig2_embedded(data, globals_data=gl)
    assert np.array_equal(img == 0, bmp.astype(bool))


def test_embedded_stream_mmr_region():
    # MMR=1 generic region: G4-coded rows (2 all-white rows of 8 via
    # horizontal mode: H(001) + white-run 8 + black-run 0)
    rowbits = "001" + "10011" + "0000110111"
    bits = rowbits * 2
    bits += "0" * (-len(bits) % 8)
    mmr = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    region = (struct.pack(">IIII", 8, 2, 0, 0) + b"\x00"
              + bytes([1]) + mmr)            # gflags bit0 = MMR
    data = (_seg(0, 48, 1, _page_info(8, 2))
            + _seg(1, 38, 1, region) + _seg(2, 49, 1, b""))
    img = decode_jbig2_embedded(data)
    assert img.shape == (2, 8) and (img == 255).all()


def test_embedded_stream_symbol_segments_raise_honestly():
    data = _seg(0, 0, 1, b"\x00" * 8)        # symbol dictionary
    with pytest.raises(NotImplementedError, match="segment type 0"):
        decode_jbig2_embedded(data)
    with pytest.raises(ValueError, match="no generic region"):
        decode_jbig2_embedded(_seg(0, 48, 1, _page_info(4, 4)))
    with pytest.raises(ValueError, match="truncated"):
        decode_jbig2_embedded(b"\x00\x00\x00")


# ---------------- PDF image channel ----------------


def _jbig2_pdf(stream: bytes, w: int, h: int,
               parms: bytes = b"") -> bytes:
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject "
        b"<< /Scan 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 14 >>\nstream\nBT (t) Tj ET\nendstream\n"
        b"endobj\n5 0 obj\n<< /Type /XObject /Subtype /Image /Width "
        + str(w).encode() + b" /Height " + str(h).encode()
        + b" /ColorSpace /DeviceGray /BitsPerComponent 1"
        b" /Filter /JBIG2Decode" + parms + b" /Length "
        + str(len(stream)).encode() + b" >>\nstream\n" + stream
        + b"\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n")


def test_jbig2_image_xobject_in_pdf():
    from vision_parse_spark.functions.pdf import extract_pdf_images

    bmp = _rand_bmp(10, 32, 0.3, seed=12)
    pdf = _jbig2_pdf(make_jbig2_embedded(bmp), 32, 10)
    ims = extract_pdf_images(pdf)
    assert len(ims) == 1
    _, name, arr = ims[0]
    assert name == "Scan" and arr.shape == (10, 32)
    assert np.array_equal(arr == 0, bmp.astype(bool))


def test_jbig2_globals_stream_in_pdf():
    from vision_parse_spark.functions.pdf import extract_pdf_images

    bmp = _rand_bmp(8, 16, 0.4, seed=13)
    gl = _seg(0, 48, 1, _page_info(16, 8))
    body = _seg(1, 38, 1, _generic_region_seg(bmp))
    pdf = _jbig2_pdf(
        body, 16, 8,
        parms=b" /DecodeParms << /JBIG2Globals 6 0 R >>")
    pdf = pdf.replace(
        b"trailer",
        b"6 0 obj\n<< /Length " + str(len(gl)).encode()
        + b" >>\nstream\n" + gl + b"\nendstream\nendobj\ntrailer")
    ims = extract_pdf_images(pdf)
    assert len(ims) == 1
    assert np.array_equal(ims[0][2] == 0, bmp.astype(bool))


def test_jbig2_symbol_dict_pdf_skips_visibly():
    from vision_parse_spark.functions.pdf import extract_pdf_images

    pdf = _jbig2_pdf(_seg(0, 0, 1, b"\x00" * 8), 8, 8)
    skipped = []
    ims = extract_pdf_images(pdf, skipped_out=skipped)
    assert ims == []
    assert len(skipped) == 1
    assert skipped[0][1] == "Scan"
    assert "jbig2_decode_failed" in skipped[0][2]


# ---------------- review-found hardening ----------------


def test_truncated_header_raises_cleanly_not_indexerror_in_pdf():
    """A segment header cut at the page-association byte must be a
    visible skip in the image channel, not a dead executor task."""
    from vision_parse_spark.functions.pdf import extract_pdf_images

    bad = struct.pack(">I", 1) + bytes([38]) + bytes([5 << 5]) \
        + bytes([1, 2, 3, 4, 5])          # refs end the stream
    skipped = []
    ims = extract_pdf_images(_jbig2_pdf(bad, 4, 4),
                             skipped_out=skipped)
    assert ims == [] and len(skipped) == 1
    assert "jbig2_decode_failed" in skipped[0][2]


def test_huge_region_hits_sanity_cap_not_oom():
    region = (struct.pack(">IIII", 2 ** 30, 2 ** 30, 0, 0)
              + b"\x00" + bytes([0]) + b"\x00" * 8)
    data = (_seg(0, 48, 1, _page_info(4, 4))
            + _seg(1, 38, 1, region))
    with pytest.raises(ValueError, match="sanity cap"):
        decode_jbig2_embedded(data)


def test_replace_op_on_default_black_page():
    bmp = np.zeros((4, 4), dtype=np.uint8)
    bmp[0, 0] = 1
    region = _generic_region_seg(bmp)
    region = region[:16] + bytes([4]) + region[17:]   # REPLACE
    data = (_seg(0, 48, 1, _page_info(4, 4, default_pixel=1))
            + _seg(1, 38, 1, region))
    img = decode_jbig2_embedded(data)
    # REPLACE overwrites the all-black ground with the region
    assert img[0, 0] == 0 and (img[1:] == 255).all()
    # ...while an unsupported AND op raises honestly
    region_and = region[:16] + bytes([1]) + region[17:]
    with pytest.raises(NotImplementedError, match="operator 1"):
        decode_jbig2_embedded(
            _seg(0, 48, 1, _page_info(4, 4, default_pixel=1))
            + _seg(1, 38, 1, region_and))


def test_striped_page_keeps_declared_width():
    bmp = np.ones((2, 3), dtype=np.uint8)
    pi = struct.pack(">IIII", 10, 0xFFFFFFFF, 0, 0) + b"\x00" \
        + b"\x00\x00"
    data = (_seg(0, 48, 1, pi)
            + _seg(1, 38, 1, _generic_region_seg(bmp)))
    img = decode_jbig2_embedded(data)
    assert img.shape == (2, 10)           # width declared, height grown
