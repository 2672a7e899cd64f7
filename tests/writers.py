"""Test-side payload writers and the PNG reader the tests check with.

Every function here builds or reads fixture bytes on the driver; none
is reachable from the library, and none may run inside a UDF (this
directory is not on the executors' ``PYTHONPATH``).  The library keeps
every decoder, ``make_pdf_bytes`` and ``vector_figure_ops`` (the synth
corpus uses them) and ``encode_png`` (the image channel emits PNGs).

* ``decode_png`` — 8-bit gray/RGB/RGBA PNG reader with all five
  scanline filters, used to check the image channel's base64 output;
* ``encode_jpeg`` — baseline JPEG encoder: 4:4:4 or 4:2:0, standard-
  shape quant tables scaled by quality, per-image fixed-length
  canonical Huffman tables emitted in DHT (valid per T.81 and simpler
  than the Annex-K defaults, so the decoder's DHT path runs for real);
* ``MQEncoder`` / ``encode_generic_region`` — the T.88 MQ encoder and
  the generic-region context walk that mirrors the JBIG2 decoder;
* PDF writers for AcroForm/annotation pages, subset fonts with a
  ``/ToUnicode`` CMap, PDF 1.5 object streams, a single image XObject
  under any filter, and standard-security-handler encryption.
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib

import numpy as np

from vision_parse_spark.functions.jbig2 import _QE, _TEMPLATES
from vision_parse_spark.functions.jpeg import _A, _ZZ, _canonical_codes
from vision_parse_spark.functions.pdf import (
    _OBJ_HEAD_RE,
    _esc,
    _scan_objects,
    _serialize_pdf,
    vector_figure_ops,
)
from vision_parse_spark.functions.pdfcrypt import (
    _PAD,
    StdSecurityHandler,
    _hash_2b,
    aes_cbc_encrypt,
    rc4,
)

# ---------------------------------------------------------------------------
# PNG reader
# ---------------------------------------------------------------------------


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, vectorized across a scanline."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a,
                    np.where(pb <= pc, b, c)).astype(np.uint8)


def decode_png(png: bytes) -> np.ndarray:
    """PNG decoder for 8-bit grayscale / RGB / RGBA images with FULL
    scanline unfiltering (filter types 0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth — PNG spec §9), so arbitrary externally-produced
    non-interlaced 8-bit PNGs decode, not just our own encoder's
    filter-0 output.  Palette, 16-bit, and interlaced PNGs raise."""
    if png[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w, h, depth, ctype, interlace = 8, 0, 0, 0, 0, 0
    idat = b""
    while pos < len(png):
        (length,) = struct.unpack(">I", png[pos : pos + 4])
        tag = png[pos + 4 : pos + 8]
        data = png[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", data[:10])
            interlace = data[12]
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    channels = {0: 1, 2: 3, 6: 4}.get(ctype)
    if depth != 8 or channels is None or interlace != 0:
        raise NotImplementedError(
            f"unsupported PNG shape (depth={depth} ctype={ctype} "
            f"interlace={interlace}); 8-bit gray/RGB/RGBA only"
        )
    raw = zlib.decompress(idat)
    stride = w * channels
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    filters = rows[:, 0]
    img = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    ch = channels
    for i in range(h):
        cur = rows[i, 1:].copy()
        ft = int(filters[i])
        if ft == 0:
            rec = cur
        elif ft == 1:  # Sub: grouped running sum mod 256 along x
            rec = np.cumsum(
                cur.reshape(w, ch).astype(np.uint64), axis=0
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            rec = cur + prev
        elif ft == 3:  # Average — sequential in x (left neighbor dep)
            rec = cur
            left = np.zeros(ch, dtype=np.uint16)
            up = prev.reshape(w, ch).astype(np.uint16)
            r2 = rec.reshape(w, ch)
            for x in range(w):
                left = (r2[x] + ((left + up[x]) >> 1)).astype(np.uint8) \
                    .astype(np.uint16)
                r2[x] = left.astype(np.uint8)
            rec = r2.reshape(stride).astype(np.uint8)
        elif ft == 4:  # Paeth — sequential in x
            rec = cur
            r2 = rec.reshape(w, ch)
            up = prev.reshape(w, ch)
            left = np.zeros(ch, dtype=np.uint8)
            ul = np.zeros(ch, dtype=np.uint8)
            for x in range(w):
                pred = _paeth(left, up[x], ul)
                r2[x] = r2[x] + pred
                left, ul = r2[x], up[x]
            rec = r2.reshape(stride)
        else:
            raise NotImplementedError(f"PNG filter type {ft}")
        img[i] = rec
        prev = img[i]
    out = img.reshape(h, w, ch)
    return out[:, :, 0] if ch == 1 else out


# ---------------------------------------------------------------------------
# baseline JPEG encoder (ITU-T T.81, SOF0)
# ---------------------------------------------------------------------------

# standard-shape quant tables (ITU-T T.81 Annex K layout); embedded in
# DQT, so encoder/decoder agreement never depends on these constants
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64).reshape(8, 8)
_Q_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64).reshape(8, 8)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


def _fixed_length_table(symbols: set[int]) -> tuple[list[int], list[int]]:
    """A valid JPEG Huffman table assigning the SAME length L to every
    used symbol, with 2^L >= n+1 (the all-ones code must stay unused
    per the spec).  Simple, canonical, and forces decoders to honor
    the DHT segment."""
    syms = sorted(symbols) if symbols else [0]
    n = len(syms)
    length = max(1, (n + 1 - 1).bit_length())
    while (1 << length) < n + 1:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    return bits, syms


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    if v < 0:
        return size, v + (1 << size) - 1
    return size, v


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _blockify(plane: np.ndarray) -> np.ndarray:
    """HxW (multiple of 8) -> (n_blocks, 8, 8) in raster-MCU order."""
    h, w = plane.shape
    return (plane.reshape(h // 8, 8, w // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    s = 5000 / quality if quality < 50 else 200 - 2 * quality
    return np.clip(np.floor((q * s + 50) / 100), 1, 255)


def _encode_component_blocks(blocks_q: np.ndarray) -> tuple[list, set, set]:
    """Quantized (n,8,8) int blocks -> list of per-block symbol streams
    [(dc_size, dc_bits), [(ac_sym, ac_bits), ...]] + used symbol sets."""
    out = []
    dc_syms: set[int] = set()
    ac_syms: set[int] = set()
    prev_dc = 0
    zz = blocks_q.reshape(-1, 64)[:, _ZZ]
    for row in zz:
        dc = int(row[0])
        size, bits = _magnitude(dc - prev_dc)
        prev_dc = dc
        dc_syms.add(size)
        acs = []
        run = 0
        nz = np.flatnonzero(row[1:])
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
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
        if last < 63:
            acs.append((0x00, (0, 0)))  # EOB
            ac_syms.add(0x00)
        out.append(((size, bits), acs))
    return out, dc_syms, ac_syms


def encode_jpeg(img: np.ndarray, quality: int = 85,
                subsample: bool = False) -> bytes:
    """Encode an HxW (gray) or HxWx3 (RGB) uint8 array as baseline
    JPEG.  ``subsample=True`` uses 4:2:0 chroma (exercises the
    decoder's upsampling path); default 4:4:4."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
    else:
        ycc = _rgb_to_ycbcr(img)
        planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]

    qt = [_quality_scale(_Q_LUM, quality)]
    if not gray:
        qt.append(_quality_scale(_Q_CHROM, quality))

    # sampling factors per component
    if gray:
        samp = [(1, 1)]
    elif subsample:
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        samp = [(1, 1), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    comp_blocks = []
    for ci, plane in enumerate(planes):
        sh, sv = samp[ci]
        ch = -(-h * sv // vmax)   # subsampled content size
        cw = -(-w * sh // hmax)
        if (sh, sv) != (hmax, vmax):
            fy, fx = vmax // sv, hmax // sh
            ph = -(-h // fy) * fy
            pw = -(-w // fx) * fx
            p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
            plane = p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        # pad the component plane to its MCU-grid extent (mcuy*sv x
        # mcux*sh blocks) — block-multiple padding alone under-sizes
        # the grid whenever the image isn't an MCU multiple
        bh_blocks, bw_blocks = mcuy * sv, mcux * sh
        plane = np.pad(
            plane[:ch, :cw],
            ((0, bh_blocks * 8 - ch), (0, bw_blocks * 8 - cw)),
            mode="edge")
        blocks = _blockify(plane - 128.0)
        coef = np.einsum("ij,njk,lk->nil", _A, blocks, _A)
        q = qt[0] if ci == 0 else qt[1]
        blocks_q = np.round(coef / q).astype(np.int64)
        # reorder into MCU VISIT order before symbolizing: the DC
        # predictor chains along the scan's traversal, not the plane's
        # raster order (identical only at 1x1 sampling)
        visit = [
            (my * sv + by) * bw_blocks + (mx * sh + bx)
            for my in range(mcuy) for mx in range(mcux)
            for by in range(sv) for bx in range(sh)
        ]
        comp_blocks.append(blocks_q[np.array(visit, dtype=np.int64)])

    # per-component symbol streams + huffman tables (lum / chrom pair)
    streams = []
    dc_sets = [set(), set()]
    ac_sets = [set(), set()]
    for ci, bq in enumerate(comp_blocks):
        st, ds, asy = _encode_component_blocks(bq)
        streams.append(st)
        t = 0 if ci == 0 else 1
        dc_sets[t] |= ds
        ac_sets[t] |= asy
    n_tables = 1 if gray else 2
    dc_tables = [_fixed_length_table(dc_sets[t]) for t in range(n_tables)]
    ac_tables = [_fixed_length_table(ac_sets[t]) for t in range(n_tables)]
    dc_codes = [_canonical_codes(*t) for t in dc_tables]
    ac_codes = [_canonical_codes(*t) for t in ac_tables]

    # ---- entropy-coded scan (interleaved MCUs; streams are already
    # in MCU visit order, so emission is sequential per component) ----
    bw = _BitWriter()
    idx = [0] * len(planes)
    for _my in range(mcuy):
        for _mx in range(mcux):
            for ci in range(len(planes)):
                sh, sv = samp[ci]
                t = 0 if ci == 0 else min(1, n_tables - 1)
                for _ in range(sv * sh):
                    (size, bits), acs = streams[ci][idx[ci]]
                    idx[ci] += 1
                    code, length = dc_codes[t][size]
                    bw.write(code, length)
                    if size:
                        bw.write(bits, size)
                    for sym, (s, b) in acs:
                        code, length = ac_codes[t][sym]
                        bw.write(code, length)
                        if s:
                            bw.write(b, s)
    scan = bw.flush()

    # ---- container ----
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    for ti, q in enumerate(qt):
        zzq = q.reshape(-1)[_ZZ].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti]) + zzq
    # SOF0
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samp[ci]
        tq = 0 if ci == 0 else 1
        sof += bytes([ci + 1, (sh << 4) | sv, tq])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    for tc, tables in ((0, dc_tables), (1, ac_tables)):
        for th, (bits, vals) in enumerate(tables):
            seg = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
            out += b"\xff\xc4" + struct.pack(">H", len(seg) + 2) + seg
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else min(1, n_tables - 1)
        sos += bytes([ci + 1, (t << 4) | t])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# JBIG2 generic-region encoder (ITU-T T.88)
# ---------------------------------------------------------------------------


class MQEncoder:
    """MQ encoder (T.88 E.3.5-E.3.9) matching the library's
    ``MQDecoder``: authors real arithmetic-coded generic regions."""

    __slots__ = ("out", "b", "c", "a", "ct", "_started")

    def __init__(self):
        self.out = bytearray()
        self.b = -1          # pending byte (-1 = none yet)
        self.c = 0
        self.a = 0x8000
        self.ct = 12
        self._started = False

    def _emit(self) -> None:
        if self._started:
            self.out.append(self.b)
        self._started = True

    def _byteout(self) -> None:
        # BYTEOUT per T.88 E.3.7 (the jbig2enc/openjpeg register
        # conventions: 32-bit C, carry = magnitude >= 0x8000000)
        if self.b == 0xFF:
            self._emit()
            self.b = (self.c >> 20) & 0xFF
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c < 0x8000000:
            self._emit()
            self.b = (self.c >> 19) & 0xFF
            self.c &= 0x7FFFF
            self.ct = 8
        else:
            self.b += 1
            if self.b == 0xFF:
                self.c &= 0x7FFFFFF
                self._emit()
                self.b = (self.c >> 20) & 0xFF
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                self._emit()
                self.b = (self.c >> 19) & 0xFF
                self.c &= 0x7FFFF
                self.ct = 8

    def encode(self, cx: list, d: int) -> None:
        i, mps = cx
        qe, nmps, nlps, switch = _QE[i]
        if d == mps:                      # CODEMPS
            self.a -= qe
            if self.a & 0x8000:
                self.c += qe
                return
            if self.a < qe:
                self.a = qe
            else:
                self.c += qe
            cx[0] = nmps
        else:                             # CODELPS
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if switch:
                cx[1] = 1 - mps
            cx[0] = nlps
        while True:                       # RENORME
            if self.ct == 0:
                self._byteout()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break

    def flush(self) -> bytes:
        # SETBITS + two shifted byteouts (T.88 E.3.8; trailing 0xFF
        # dropped — the decoder feeds 1-bits past end-of-data)
        temp = (self.c + self.a) & 0xFFFFFFFF
        self.c |= 0xFFFF
        if self.c >= temp:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFFF
        self._byteout()
        if self.b != 0xFF and self._started:
            self.out.append(self.b)
        return bytes(self.out)


def encode_generic_region(bmp: np.ndarray, template: int = 0,
                          at: list[tuple[int, int]] | None = None,
                          tpgdon: bool = False) -> bytes:
    """The exact context walk of the library's
    ``decode_generic_region`` driven through :class:`MQEncoder`."""
    spec = _TEMPLATES[template]
    at = list(at) if at else list(spec["at_nominal"])
    pixels = list(spec["fixed"]) + [
        (ax, ay, bit) for (ax, ay), bit in zip(at, spec["at_bits"])]
    height, width = bmp.shape
    enc = MQEncoder()
    cxs = [[0, 0] for _ in range(1 << 16)]
    cur_mask = (1 << spec["cur_bits"]) - 1
    ltp = 0
    for y in range(height):
        if tpgdon:
            same = bool(y > 0 and np.array_equal(bmp[y], bmp[y - 1]))
            sltp = 1 if same != bool(ltp) else 0
            enc.encode(cxs[spec["tpgdon_cx"]], sltp)
            ltp ^= sltp
            if ltp:
                continue
        reg = 0
        for x in range(width):
            ctx = reg & cur_mask
            for ax, ay, bit in pixels:
                px, py = x + ax, y + ay
                if 0 <= px < width and 0 <= py < height and bmp[py, px]:
                    ctx |= 1 << bit
            b = int(bmp[y, x])
            enc.encode(cxs[ctx], b)
            reg = (reg << 1) | b
    return enc.flush()


# ---------------------------------------------------------------------------
# PDF writers
# ---------------------------------------------------------------------------


def make_pdf_bytes_annots(
    lines: list[str],
    field_value: str = "Jane Q. Applicant",
    vector_stamp: bool = False,
    checkbox_on: bool | None = None,
    hidden_field: str | None = None,
) -> bytes:
    """One-page PDF with an AcroForm TEXT WIDGET whose filled value
    lives ONLY in its /AP /N appearance stream — the structure Acrobat
    writes for filled forms (the reference renders these via
    ``may_draw_forms=include_annotations``, parser.py:118-120).
    Optionally adds a /Stamp annotation whose appearance paints vector
    ink, a checkbox with /N state sub-dict + /AS, and a /F-hidden
    field that must NOT surface."""
    objects: list[bytes] = []

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)  # object number

    def add_stream(head: str, stream: bytes) -> int:
        return add(f"<< {head} /Length {len(stream)} >>".encode()
                   + b"\nstream\n" + stream + b"\nendstream")

    cat = add(b"<< /Type /Catalog /Pages 2 0 R >>")
    assert cat == 1
    add(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    page_num = add(b"PLACEHOLDER-PAGE")
    ops = [b"BT /F1 12 Tf 72 720 Td"]
    for j, line in enumerate(lines):
        if j:
            ops.append(b"0 -14 Td")
        ops.append(b"(" + _esc(line) + b") Tj")
    ops.append(b"ET")
    content_num = add_stream("", b" ".join(ops))
    font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    annot_nums: list[int] = []
    # --- filled text widget: value only in the appearance stream ---
    ap_ops = (b"/Tx BMC q BT /F1 10 Tf 2 6 Td ("
              + _esc(field_value) + b") Tj ET Q EMC")
    ap_num = add_stream(
        f"/Type /XObject /Subtype /Form /BBox [0 0 200 20] "
        f"/Resources << /Font << /F1 {font_num} 0 R >> >>", ap_ops)
    annot_nums.append(add(
        f"<< /Type /Annot /Subtype /Widget /FT /Tx /T (applicant) "
        f"/Rect [100 600 300 620] /AP << /N {ap_num} 0 R >> >>".encode()))
    if vector_stamp:
        stamp_ap = add_stream(
            "/Type /XObject /Subtype /Form /BBox [0 0 300 300]",
            vector_figure_ops(cx=150, cy=150, r=120))
        annot_nums.append(add(
            f"<< /Type /Annot /Subtype /Stamp /Rect [150 350 450 650] "
            f"/AP << /N {stamp_ap} 0 R >> >>".encode()))
    if checkbox_on is not None:
        on_ap = add_stream(
            f"/Type /XObject /Subtype /Form /BBox [0 0 12 12] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >>",
            b"q BT /F1 10 Tf 2 2 Td (X-CHECKED) Tj ET Q")
        off_ap = add_stream(
            "/Type /XObject /Subtype /Form /BBox [0 0 12 12]", b"")
        state = "On" if checkbox_on else "Off"
        annot_nums.append(add(
            f"<< /Type /Annot /Subtype /Widget /FT /Btn /AS /{state} "
            f"/Rect [100 560 112 572] "
            f"/AP << /N << /On {on_ap} 0 R /Off {off_ap} 0 R >> >> >>"
            .encode()))
    if hidden_field is not None:
        hid_ap = add_stream(
            f"/Type /XObject /Subtype /Form /BBox [0 0 200 20] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >>",
            b"q BT /F1 10 Tf 2 6 Td (" + _esc(hidden_field)
            + b") Tj ET Q")
        annot_nums.append(add(
            f"<< /Type /Annot /Subtype /Widget /FT /Tx /F 2 "
            f"/Rect [100 520 300 540] /AP << /N {hid_ap} 0 R >> >>"
            .encode()))

    annots = " ".join(f"{n} 0 R" for n in annot_nums)
    objects[page_num - 1] = (
        f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
        f"/Contents {content_num} 0 R /Annots [{annots}] >>".encode())
    return _serialize_pdf(objects)


def make_pdf_bytes_cmap(
    pages: list[list[str]],
    codes: dict[str, int] | None = None,
) -> bytes:
    """A PDF whose text is shown through a SUBSET FONT with remapped
    byte codes and a /ToUnicode CMap — the structure real generators
    emit for embedded fonts, which latin-1 decoding garbles.  Each
    distinct character in ``pages`` gets a code (1-based, in first-seen
    order unless ``codes`` pins them); strings are written as hex with
    those codes; the CMap carries code -> UTF-16BE mappings."""
    if codes is None:
        codes = {}
        for lines in pages:
            for line in lines:
                for ch in line:
                    if ch not in codes:
                        codes[ch] = len(codes) + 1
    n_pages = len(pages)
    objects: list[bytes] = []
    font_num = 3 + 2 * n_pages
    cmap_num = font_num + 1
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, lines in enumerate(pages):
        content_num = 3 + 2 * i + 1
        objects.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
            f"/Contents {content_num} 0 R >>".encode())
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                ops.append(b"0 -14 Td")
            hexes = "".join(f"{codes[ch]:02x}" for ch in line)
            ops.append(f"<{hexes}> Tj".encode())
        ops.append(b"ET")
        stream = zlib.compress(b" ".join(ops))
        objects.append(
            f"<< /Length {len(stream)} /Filter /FlateDecode >>".encode()
            + b"\nstream\n" + stream + b"\nendstream")
    objects.append(
        f"<< /Type /Font /Subtype /TrueType /BaseFont /AAAAAA+Subset "
        f"/FirstChar 1 /LastChar {len(codes)} "
        f"/ToUnicode {cmap_num} 0 R >>".encode())
    bfchars = "\n".join(
        f"<{code:02x}> <{ch.encode('utf-16-be').hex()}>"
        for ch, code in codes.items())
    cmap = (
        "/CIDInit /ProcSet findresource begin\n"
        "12 dict begin begincmap\n"
        "/CMapName /Adobe-Identity-UCS def /CMapType 2 def\n"
        "1 begincodespacerange <01> <ff> endcodespacerange\n"
        f"{len(codes)} beginbfchar\n{bfchars}\nendbfchar\n"
        "endcmap CMapName currentdict /CMap defineresource pop end end"
    ).encode("latin-1")
    objects.append(f"<< /Length {len(cmap)} >>".encode()
                   + b"\nstream\n" + cmap + b"\nendstream")
    return _serialize_pdf(objects)


def make_pdf_bytes_objstm(pages: list[list[str]]) -> bytes:
    """A PDF 1.5 layout: catalog, page tree and page dicts live inside
    a compressed /Type /ObjStm object stream (content streams stay
    file-level, as the spec requires streams outside ObjStm); the
    trailer dict carries /Root as in an xref-stream file."""
    n_pages = len(pages)
    # numbering: 1 catalog, 2 pages, 3..(2+n) page dicts  (in ObjStm)
    #            10.. content streams, font, objstm        (file level)
    content_base = 10
    font_num = content_base + n_pages
    objstm_num = font_num + 1
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    embedded: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()),
    ]
    for i in range(n_pages):
        embedded.append((3 + i, (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
            f"/Contents {content_base + i} 0 R >>").encode()))
    bodies = [b for _, b in embedded]
    offs = []
    at = 0
    for b in bodies:
        offs.append(at)
        at += len(b) + 1
    header = " ".join(f"{num} {off}"
                      for (num, _), off in zip(embedded, offs)).encode()
    payload = header + b"\n" + b"\n".join(bodies) + b"\n"
    first = len(header) + 1
    stm = zlib.compress(payload)

    file_objs: list[tuple[int, bytes]] = []
    for i, lines in enumerate(pages):
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + _esc(line) + b") Tj")
        ops.append(b"ET")
        cstream = zlib.compress(b" ".join(ops))
        file_objs.append((content_base + i, (
            f"<< /Length {len(cstream)} /Filter /FlateDecode >>".encode()
            + b"\nstream\n" + cstream + b"\nendstream")))
    file_objs.append((font_num,
                      b"<< /Type /Font /Subtype /Type1"
                      b" /BaseFont /Helvetica >>"))
    file_objs.append((objstm_num, (
        f"<< /Type /ObjStm /N {len(embedded)} /First {first} "
        f"/Filter /FlateDecode /Length {len(stm)} >>".encode()
        + b"\nstream\n" + stm + b"\nendstream")))

    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    for num, body in file_objs:
        buf += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    # xref-stream files carry /Root in the xref stream's dict; the
    # parser reads it from the raw bytes, so a minimal trailer works
    buf += (b"trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    return bytes(buf)


def make_pdf_bytes_xobject(stream: bytes, entries: str) -> bytes:
    """One-page PDF whose page draws one image XObject ``/Im0`` with
    the raw ``stream`` bytes; ``entries`` are the dict's keys besides
    /Type, /Subtype and /Length (e.g. ``/Filter /DCTDecode``)."""
    content = (b"BT /F1 12 Tf 72 720 Td (figure) Tj ET "
               b"q 64 0 0 48 100 400 cm /Im0 Do Q")
    return _serialize_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> /XObject << /Im0 6 0 R >> >> "
        b"/Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        f"<< /Type /XObject /Subtype /Image {entries} "
        f"/Length {len(stream)} >>".encode()
        + b"\nstream\n" + stream + b"\nendstream",
    ])


def encrypt_stream(hd: StdSecurityHandler, num: int, gen: int,
                   plain: bytes) -> bytes:
    """Inverse of ``StdSecurityHandler.decrypt_stream``."""
    if hd.algo == "none":
        return plain
    key = hd._object_key(num, gen)
    if hd.algo == "rc4":
        return rc4(key, plain)
    pad = 16 - (len(plain) % 16)
    iv = hashlib.md5(struct.pack("<ii", num, gen)).digest()
    return iv + aes_cbc_encrypt(key, iv, plain + bytes([pad]) * pad)


def encrypt_pdf_bytes(pdf: bytes, mode: str = "rc4",
                      user_pwd: bytes = b"",
                      owner_pwd: bytes = b"o") -> bytes:
    """Re-serialize a (writer-produced) PDF with its streams encrypted
    under the standard security handler — the inverse of the library's
    ``_maybe_decrypt``.  ``mode``: ``rc4`` (V2 R3), ``aesv2``
    (V4 R4 /AESV2) or ``aes256`` (V5 R6).  A non-empty ``user_pwd``
    produces a file the engine must REFUSE (PdfEncryptedError ->
    status 'encrypted')."""
    objs = _scan_objects(pdf)
    enc_num = max(objs) + 1
    id0 = hashlib.md5(pdf[:256]).digest()
    p = -44

    def pad(pwd: bytes) -> bytes:
        return (pwd + _PAD)[:32]

    if mode in ("rc4", "aesv2"):
        r = 3 if mode == "rc4" else 4
        okey = hashlib.md5(pad(owner_pwd)).digest()
        for _ in range(50):
            okey = hashlib.md5(okey).digest()
        okey = okey[:16]
        o = rc4(okey, pad(user_pwd))
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in okey), o)
        h = hashlib.md5(pad(user_pwd) + o + struct.pack("<i", p) + id0)
        key = h.digest()[:16]
        for _ in range(50):
            key = hashlib.md5(key[:16]).digest()[:16]
        u = rc4(key, hashlib.md5(_PAD + id0).digest())
        for i in range(1, 20):
            u = rc4(bytes(b ^ i for b in key), u)
        u = u + b"\x00" * 16
        extra = (b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
                 b"/StmF /StdCF /StrF /StdCF" if mode == "aesv2" else b"")
        enc_body = (b"<< /Filter /Standard /V %d /R %d /Length 128 "
                    b"/P %d /O <%s> /U <%s>%s >>"
                    % (2 if mode == "rc4" else 4, r, p,
                       o.hex().encode(), u.hex().encode(), extra))
    elif mode == "aes256":
        file_key = hashlib.sha256(b"vps-file-key").digest()
        vs, ks = b"VALSALT!", b"KEYSALT!"
        u48 = _hash_2b(user_pwd, vs) + vs + ks
        ue = aes_cbc_encrypt(_hash_2b(user_pwd, ks), b"\x00" * 16,
                             file_key)
        ovs, oks = b"OVALSLT!", b"OKEYSLT!"
        o48 = _hash_2b(owner_pwd, ovs, u48) + ovs + oks
        oe = aes_cbc_encrypt(_hash_2b(owner_pwd, oks, u48),
                             b"\x00" * 16, file_key)
        enc_body = (b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
                    b"/P %d /O <%s> /U <%s> /OE <%s> /UE <%s> >>"
                    % (p, o48.hex().encode(), u48.hex().encode(),
                       oe.hex().encode(), ue.hex().encode()))
    else:
        raise ValueError(f"unknown mode {mode!r}")

    # a handler built from the dict itself does the per-object
    # encryption (keys derive from the empty user password exactly as
    # the reader will re-derive them); a passworded fixture must be
    # encrypted with the real key, which the handler's constructor
    # refuses to derive, so its key state is set inline instead
    trailer_stub = b"/ID [<" + id0.hex().encode() + b"> <" \
        + id0.hex().encode() + b">]"
    if user_pwd:
        hd = StdSecurityHandler.__new__(StdSecurityHandler)
        if mode == "aes256":
            hd.key, hd.algo, hd.v5 = file_key, "aes", True
        else:
            h2 = hashlib.md5(pad(user_pwd) + o
                             + struct.pack("<i", p) + id0)
            k2 = h2.digest()[:16]
            for _ in range(50):
                k2 = hashlib.md5(k2[:16]).digest()[:16]
            hd.key = k2
            hd.algo = "aes" if mode == "aesv2" else "rc4"
            hd.v5 = False
    else:
        hd = StdSecurityHandler(enc_body, trailer_stub)

    order = [int(m.group(1)) for m in _OBJ_HEAD_RE.finditer(pdf)
             if int(m.group(1)) in objs]
    seen: list[int] = []
    for num in order:
        if num not in seen:
            seen.append(num)
    buf = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in seen:
        body, stream = objs[num]
        if stream is not None:
            stream = encrypt_stream(hd, num, 0, stream)
            body = re.sub(rb"/Length\s+\d+",
                          b"/Length %d" % len(stream), body)
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + body
        if stream is not None:
            buf += b"\nstream\n" + stream + b"\nendstream"
        buf += b"\nendobj\n"
    offsets[enc_num] = len(buf)
    buf += b"%d 0 obj\n" % enc_num + enc_body + b"\nendobj\n"
    nums = sorted(offsets)
    xref_at = len(buf)
    buf += b"xref\n"
    buf += b"0 1\n0000000000 65535 f \n"
    for num in nums:
        buf += b"%d 1\n%010d 00000 n \n" % (num, offsets[num])
    buf += (b"trailer\n<< /Size %d /Root 1 0 R /Encrypt %d 0 R "
            % (max(nums) + 1, enc_num) + trailer_stub
            + b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_at)
    return bytes(buf)
