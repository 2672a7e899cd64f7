"""PNG and JPEG codec tests: the library's ``encode_png`` read back by
the test-side ``decode_png`` (all five scanline filters, gray/RGB/
RGBA), ``decode_jpeg`` against the test-side baseline encoder (both
samplings, odd dims), a test-side progressive encoder (spectral
selection, DC and AC successive approximation), and malformed streams,
truncated scans included, raising ``ValueError``."""

import struct
import zlib

import numpy as np
import pytest

from vision_parse_spark.functions.jpeg import (
    _A, _ZZ, _canonical_codes, decode_jpeg,
)
from vision_parse_spark.operators.images import encode_png, render_page
from writers import (
    _BitWriter, _Q_LUM, _blockify, _fixed_length_table, _magnitude,
    _quality_scale, decode_png, encode_jpeg,
)


def test_png_roundtrip():
    page = render_page(140, 120, seed=9)
    rgb = page[..., ::-1].copy()
    assert np.array_equal(decode_png(encode_png(rgb)), rgb)


def test_decode_rejects_non_png():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_jpeg_roundtrip_rgb_and_gray():
    x = np.linspace(0, 255, 96)
    y = np.linspace(0, 255, 64)
    img = np.zeros((64, 96, 3), dtype=np.uint8)
    img[..., 0] = x[None, :].astype(np.uint8)
    img[..., 1] = y[:, None].astype(np.uint8)
    img[..., 2] = ((x[None, :] + y[:, None]) / 2).astype(np.uint8)
    for quality, sub, tol in [(95, False, 4), (85, True, 10)]:
        dec = decode_jpeg(encode_jpeg(img, quality=quality, subsample=sub))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol
    gray = (np.add.outer(np.arange(40), np.arange(56)) * 2 % 256) \
        .astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(gray, quality=90))
    assert dec.shape == gray.shape
    assert np.abs(dec.astype(int) - gray.astype(int)).max() <= 3


def test_jpeg_odd_dims_roundtrip():
    rng = np.random.default_rng(3)
    smooth = np.clip(
        rng.integers(80, 120, (1, 1, 3))
        + np.add.outer(np.arange(37), np.arange(51))[:, :, None] % 40,
        0, 255).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(smooth, 85, subsample=True))
    assert dec.shape == (37, 51, 3)
    assert np.abs(dec.astype(int) - smooth.astype(int)).mean() < 6


def test_jpeg_rejects_progressive_and_garbage():
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8")  # SOI only, no SOS
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    # SOF2 decodes since round 4 — but a header-only progressive file
    # (no scan at all) is still malformed, not silently gray
    sof2 = (b"\xff\xd8\xff\xc2" + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
    with pytest.raises(ValueError):
        decode_jpeg(sof2)


# --- full PNG unfiltering (decoder now handles external PNGs) ---------


def _png_with_filters(img: "np.ndarray", filters: list) -> bytes:
    """Forward-filter an RGB image with a chosen filter per scanline
    and wrap it as a PNG (test-side reference encoder, PNG spec §9)."""
    h, w, ch = img.shape
    raw = bytearray()
    prev = np.zeros((w, ch), dtype=np.int16)
    for y in range(h):
        ft = filters[y % len(filters)]
        cur = img[y].astype(np.int16)
        left = np.zeros((w, ch), dtype=np.int16)
        left[1:] = cur[:-1]
        ul = np.zeros((w, ch), dtype=np.int16)
        ul[1:] = prev[:-1]
        if ft == 0:
            out = cur
        elif ft == 1:
            out = cur - left
        elif ft == 2:
            out = cur - prev
        elif ft == 3:
            out = cur - ((left + prev) >> 1)
        else:  # paeth
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, ul))
            out = cur - pred
        raw.append(ft)
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prev = cur

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_decode_png_all_filter_types():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(12, 9, 3)).astype(np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        png = _png_with_filters(img, filters)
        out = decode_png(png)
        assert np.array_equal(out, img), f"filters {filters}"


def test_decode_png_grayscale_and_rgba():
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    gray = np.arange(20, dtype=np.uint8).reshape(4, 5)
    raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(4))
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 4, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), gray)

    rgba = np.arange(4 * 3 * 4, dtype=np.uint8).reshape(3, 4, 4)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(3))
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 6, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), rgba)



# ---------------------------------------------------------------------------
# round 4: progressive (SOF2) decode — test-side progressive encoder
# builds real multi-scan streams (spectral selection + DC successive
# approximation); the decoder must reconstruct the EXACT quantized
# coefficients, i.e. byte-identical output to the baseline encoding
# of the same image with the same tables.
# ---------------------------------------------------------------------------


def _encode_progressive_gray(img, quality=85, dc_sa=True, bands=((1, 5), (6, 63))):
    """Progressive encoder (gray, 1x1): DC scan (optionally split into
    an Al=1 first pass + Al=0 refinement), then one AC scan per
    spectral band.  Reuses the baseline encoder's quant/huffman
    primitives so the quantized coefficients match encode_jpeg
    exactly."""
    h, w = img.shape
    q = _quality_scale(_Q_LUM, quality)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    plane = np.pad(img.astype(np.float64), ((0, ph - h), (0, pw - w)),
                   mode="edge")
    blocks = _blockify(plane - 128.0)
    coef = np.einsum("ij,njk,lk->nil", _A, blocks, _A)
    zz = np.round(coef / q).astype(np.int64).reshape(-1, 64)[:, _ZZ]

    # ---- symbol collection ----
    al_dc = 1 if dc_sa else 0
    dc_syms, ac_syms = set(), set()
    prev = 0
    dc_stream = []
    for row in zz:
        v = int(row[0]) >> al_dc if al_dc else int(row[0])
        size, bits = _magnitude(v - prev)
        prev = v
        dc_syms.add(size)
        dc_stream.append((size, bits))
    band_streams = []
    for (bs, be) in bands:
        per_block = []
        for row in zz:
            acs = []
            run = 0
            nz = [k for k in range(bs, be + 1) if row[k]]
            last = nz[-1] if nz else bs - 1
            for k in range(bs, last + 1):
                v = int(row[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    acs.append((0xF0, (0, 0)))
                    ac_syms.add(0xF0)
                    run -= 16
                s, b = _magnitude(v)
                sym = (run << 4) | s
                acs.append((sym, (s, b)))
                ac_syms.add(sym)
                run = 0
            if last < be:
                acs.append((0x00, (0, 0)))  # EOB (eobrun = 1)
                ac_syms.add(0x00)
            per_block.append(acs)
        band_streams.append(per_block)

    dc_tab = _fixed_length_table(dc_syms)
    ac_tab = _fixed_length_table(ac_syms)
    dc_codes = _canonical_codes(*dc_tab)
    ac_codes = _canonical_codes(*ac_tab)

    out = bytearray(b"\xff\xd8")
    zzq = q.reshape(-1)[_ZZ].astype(np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zzq
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    for tc, (bits, vals) in ((0, dc_tab), (1, ac_tab)):
        seg = bytes([(tc << 4)]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(seg) + 2) + seg

    def sos(ss, se, ah, al, scan_bytes):
        nonlocal out
        hdr = bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", len(hdr) + 2) + hdr
        out += scan_bytes

    # scan 1: DC initial at Al
    bw = _BitWriter()
    for size, bits in dc_stream:
        code, length = dc_codes[size]
        bw.write(code, length)
        if size:
            bw.write(bits, size)
    sos(0, 0, 0, al_dc, bw.flush())
    # AC band scans (Ah=Al=0)
    for (bs, be), per_block in zip(bands, band_streams):
        bw = _BitWriter()
        for acs in per_block:
            for sym, (s, b) in acs:
                code, length = ac_codes[sym]
                bw.write(code, length)
                if s:
                    bw.write(b, s)
        sos(bs, be, 0, 0, bw.flush())
    # DC refinement: raw low bit per block
    if dc_sa:
        bw = _BitWriter()
        for row in zz:
            bw.write(int(row[0]) & 1, 1)
        sos(0, 0, 1, 0, bw.flush())
    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_gray_equals_baseline():
    rng = np.random.default_rng(21)
    base = np.linspace(40, 215, 40)[None, :] * np.linspace(0.6, 1.3, 24)[:, None]
    img = np.clip(base + rng.normal(0, 12, (24, 40)), 0, 255).astype(np.uint8)
    prog = _encode_progressive_gray(img, quality=85)
    got = decode_jpeg(prog)
    want = decode_jpeg(encode_jpeg(img, quality=85))
    assert np.array_equal(got, want)


def test_progressive_without_successive_approximation():
    img = (np.arange(16 * 24) % 211).astype(np.uint8).reshape(16, 24)
    prog = _encode_progressive_gray(img, quality=90, dc_sa=False,
                                    bands=((1, 63),))
    assert np.array_equal(decode_jpeg(prog),
                          decode_jpeg(encode_jpeg(img, quality=90)))


def test_progressive_ac_refinement_scan():
    """Hand-built AC successive-approximation pair: initial scan at
    Al=1 then a refinement scan at Al=0 must reconstruct the exact
    coefficients (exercises the correction-bit path, incl. EOBRUN
    refinement and newly-nonzero insertion)."""
    # one 8x8 block, flat quant table of 1s -> output = IDCT(coef)+128
    target = np.zeros(64, dtype=np.int64)  # zigzag-domain target
    target[0] = 0
    target[1] = 5    # 101b: nonzero at Al=1 (2), refined +1
    target[2] = -3   # nonzero at Al=1 (-1), refined -1
    target[5] = 1    # appears ONLY in the refinement scan
    target[9] = -2   # appears at Al=1 as -1, refinement bit 0

    # initial AC scan at Al=1: values >> 1 = [., 2, -1, 0, 0, 0, ...,-1@9]
    ac_syms = set()
    init = []  # (sym, (s, bits)) over band 1..63 of (target >> 1)
    hi = [int(v) >> 1 if v >= 0 else -((-int(v)) >> 1) for v in target]
    run = 0
    nz = [k for k in range(1, 64) if hi[k]]
    last = nz[-1] if nz else 0
    for k in range(1, last + 1):
        v = hi[k]
        if v == 0:
            run += 1
            continue
        s, b = _magnitude(v)
        sym = (run << 4) | s
        init.append((sym, (s, b)))
        ac_syms.add(sym)
        run = 0
    init.append((0x00, (0, 0)))
    ac_syms.add(0x00)

    # refinement scan at Al=0 (G.1.2.3): walk k=1..63 with the decoder
    # history = hi; emit (run-of-zero-history, newly-nonzero) symbols
    # with embedded correction bits for crossed nonzero-history coeffs
    refine = []  # list of ("sym", sym) / ("bit", b) events in order
    k = 1
    pend = []
    run = 0
    while k <= 63:
        if hi[k] != 0:
            want_bit = 1 if abs(int(target[k])) & 1 else 0
            pend.append(want_bit)
            k += 1
            continue
        if target[k] != 0:  # newly nonzero at this precision
            s = 1
            sign_bit = 1 if target[k] > 0 else 0
            sym = (run << 4) | s
            refine.append(("sym", sym))
            ac_syms.add(sym)
            refine.append(("bit", sign_bit))
            for b in pend:
                refine.append(("bit", b))
            pend = []
            run = 0
            k += 1
            continue
        run += 1
        k += 1
    # EOB with remaining correction bits
    refine.append(("sym", 0x00))
    ac_syms.add(0x00)
    for b in pend:
        refine.append(("bit", b))

    dc_tab = _fixed_length_table({0})
    ac_tab = _fixed_length_table(ac_syms)
    dc_codes = _canonical_codes(*dc_tab)
    ac_codes = _canonical_codes(*ac_tab)

    out = bytearray(b"\xff\xd8")
    q = np.ones(64, dtype=np.uint8).tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + q
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    for tc, (bits, vals) in ((0, dc_tab), (1, ac_tab)):
        seg = bytes([(tc << 4)]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(seg) + 2) + seg

    def sos(ss, se, ah, al, payload):
        nonlocal out
        hdr = bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", len(hdr) + 2) + hdr
        out += payload

    bw = _BitWriter()  # DC initial: single zero diff
    code, length = dc_codes[0]
    bw.write(code, length)
    sos(0, 0, 0, 0, bw.flush())
    bw = _BitWriter()  # AC initial at Al=1
    for sym, (s, b) in init:
        code, length = ac_codes[sym]
        bw.write(code, length)
        if s:
            bw.write(b, s)
    sos(1, 63, 0, 1, bw.flush())
    bw = _BitWriter()  # AC refinement at Al=0
    for kind, v in refine:
        if kind == "sym":
            code, length = ac_codes[v]
            bw.write(code, length)
        else:
            bw.write(v, 1)
    sos(1, 63, 1, 0, bw.flush())
    out += b"\xff\xd9"

    got = decode_jpeg(bytes(out)).astype(np.float64)
    # expected: IDCT of the exact zigzag coefficients + 128
    blk = np.zeros(64)
    blk[_ZZ] = target
    want = (_A.T @ blk.reshape(8, 8) @ _A) + 128.0
    assert np.abs(got - np.clip(want, 0, 255)).max() <= 1


# ---------------------------------------------------------------------------
# truncated entropy data: a scan cut anywhere before its last byte
# raises instead of decoding a full-size, partly gray image
# ---------------------------------------------------------------------------


def _last_scan_start(jpg: bytes) -> int:
    """Offset of the first entropy byte of the file's last scan."""
    sos = jpg.rindex(b"\xff\xda")
    return sos + 2 + struct.unpack(">H", jpg[sos + 2:sos + 4])[0]


def test_truncated_jpeg_scan_raises_missing_eoi_decodes():
    rng = np.random.default_rng(7)
    gray = np.clip(np.add.outer(np.arange(16), np.arange(24)) * 5
                   + rng.normal(0, 9, (16, 24)), 0, 255).astype(np.uint8)
    rgb = np.stack([gray, gray[::-1], gray[:, ::-1]], axis=-1)
    for jpg in (encode_jpeg(gray, 85), encode_jpeg(rgb, 85, subsample=True),
                _encode_progressive_gray(gray, 85)):
        assert jpg.endswith(b"\xff\xd9")
        want = decode_jpeg(jpg)
        assert np.array_equal(decode_jpeg(jpg[:-2]), want)  # no EOI
        for cut in range(_last_scan_start(jpg), len(jpg) - 2):
            with pytest.raises(ValueError, match="JPEG scan truncated"):
                decode_jpeg(jpg[:cut])
