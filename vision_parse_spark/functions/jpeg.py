"""Pure-Python/numpy JPEG decoder (ITU-T T.81) for the PDF
``/DCTDecode`` filter: ``extract_pdf_images`` surfaces JPEG-compressed
image XObjects with stdlib + numpy only (no codec libraries exist in
this environment).

Scope: baseline SOF0 (8-bit) and progressive SOF2 (spectral selection
+ successive approximation, DC/AC initial and refinement scans, T.81
G.1.2), 1 or 3 components, any sampling up to 2x2 (4:4:4 / 4:2:2 /
4:2:0), custom DQT/DHT (8/16-bit quant), restart intervals, byte
de-stuffing.  Hierarchical/lossless/arithmetic coding raise
``NotImplementedError``; malformed data, including a scan whose
entropy bytes end before its last block, raises ``ValueError``, which
the PDF image channel records as a ``jpeg_decode_failed`` skip.

Cost model: entropy decode is a per-byte Python loop — per-ENTITY
cost, run once per DCT image XObject inside the Arrow-batched
extraction UDF, the same cost class as the reference's per-page
pypdfium2 render (``parser.py:116-121``).  The blockwise IDCT, color
transform and upsampling are vectorized numpy over all blocks at once.
"""

from __future__ import annotations

import struct

import numpy as np


def _zigzag_order() -> np.ndarray:
    """The 8x8 zigzag scan order, generated (not transcribed)."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        if s % 2 == 0:
            diag.reverse()
        order.extend(diag)
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


_ZZ = _zigzag_order()          # block index -> zigzag position

# orthonormal 8-point DCT-II matrix: forward F = A @ b @ A.T
_A = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _A[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * \
            (np.sqrt(0.125) if _k == 0 else 0.5)


# ---------------------------------------------------------------------------
# bit IO
# ---------------------------------------------------------------------------


class _BitReader:
    """Reads the de-stuffed entropy segment bit by bit."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                # a complete scan never reads past its padded last byte
                raise ValueError("JPEG scan truncated")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self.nbits = 0


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) from the DHT (bits, huffval) form."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol (decoder-side canonical map)."""
    return {(length, code): sym
            for sym, (code, length) in _canonical_codes(bits, values).items()}


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


# ---------------------------------------------------------------------------
# color transforms
# ---------------------------------------------------------------------------


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def _unblockify(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (blocks.reshape(h // 8, w // 8, 8, 8)
            .transpose(0, 2, 1, 3).reshape(h, w))


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline (SOF0) or progressive (SOF2) JPEG to an HxW
    (gray) or HxWx3 (RGB) uint8 array.  Raises ``NotImplementedError``
    for hierarchical / arithmetic / >8-bit files and ``ValueError``
    for malformed data."""
    if not data.startswith(b"\xff\xd8"):
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    dc_t: dict[int, dict] = {}
    ac_t: dict[int, dict] = {}
    frame = None  # (h, w, comps)
    progressive = False
    n_scans = 0
    restart = 0
    i = 2
    n = len(data)
    while i < n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        i += 2
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            continue
        seglen = struct.unpack(">H", data[i:i + 2])[0]
        seg = data[i + 2:i + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq:
                    vals = np.frombuffer(seg[p:p + 128], dtype=">u2")
                    p += 128
                else:
                    vals = np.frombuffer(seg[p:p + 64], dtype=np.uint8)
                    p += 64
                tbl = np.zeros(64)
                tbl[_ZZ] = vals.astype(np.float64)
                qt[tq] = tbl.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1:p + 17])
                cnt = sum(bits)
                vals = list(seg[p + 17:p + 17 + cnt])
                (dc_t if tc == 0 else ac_t)[th] = _decode_table(bits, vals)
                p += 17 + cnt
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG")
            comps = []
            for c in range(nc):
                cid, sf, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": sf >> 4, "v": sf & 0xF,
                              "tq": tq})
            frame = (fh, fw, comps)
            progressive = marker == 0xC2
            if progressive:
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = -(-fw // (8 * hmax))
                mcuy = -(-fh // (8 * vmax))
                for c in comps:
                    c["bw"] = mcux * c["h"]
                    c["bh"] = mcuy * c["v"]
                    # zigzag-domain INTEGER coefficients: progressive
                    # refinement is defined by bit operations (G.1.2)
                    c["zz"] = np.zeros((c["bh"] * c["bw"], 64),
                                       dtype=np.int32)
                    # block count of the component's REAL extent (non-
                    # interleaved scans iterate these, not MCU padding)
                    comp_w = -(-fw * c["h"] // hmax)
                    comp_h = -(-fh * c["v"] // vmax)
                    c["cbw"] = -(-comp_w // 8)
                    c["cbh"] = -(-comp_h // 8)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0x{marker:02x})")
        elif marker == 0xDD:  # DRI
            restart = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS -> entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            nc = seg[0]
            scomps = []
            for c in range(nc):
                cid, tt = seg[1 + 2 * c:3 + 2 * c]
                scomps.append({"id": cid, "td": tt >> 4, "ta": tt & 0xF})
            scan_start = i + seglen
            if not progressive:
                return _decode_scan(data, scan_start, frame, scomps,
                                    qt, dc_t, ac_t, restart)
            ss, se, ahal = seg[1 + 2 * nc:4 + 2 * nc]
            i = _decode_scan_progressive(
                data, scan_start, frame, scomps, qt, dc_t, ac_t,
                restart, ss, se, ahal >> 4, ahal & 0xF)
            n_scans += 1
            continue
        i += seglen
    if progressive and frame is not None and n_scans:
        return _finish_progressive(frame, qt)
    raise ValueError("no SOS segment found")


def _destuff(data: bytes, start: int) -> tuple[bytes, list[int], int]:
    """Entropy bytes with 0xFF00 collapsed; restart-marker positions
    recorded as offsets in the DE-STUFFED stream; and the source offset
    of the marker that ended the scan (``len(data)`` if none did)."""
    out = bytearray()
    rst_at: list[int] = []
    i = start
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0xFF:
            nxt = data[i + 1] if i + 1 < n else 0xD9
            if nxt == 0x00:
                out.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn
                rst_at.append(len(out))
                i += 2
                continue
            break  # any other marker ends the scan
        out.append(b)
        i += 1
    return bytes(out), rst_at, i


def _decode_scan(data, start, frame, scomps, qt, dc_t, ac_t, restart):
    fh, fw, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    order = [by_id[s["id"]] for s in scomps]
    for c, s in zip(order, scomps):
        c["td"], c["ta"] = s["td"], s["ta"]
        c["bw"] = mcux * c["h"]
        c["bh"] = mcuy * c["v"]
        c["coef"] = np.zeros((c["bh"] * c["bw"], 8, 8))

    stream, rst_at, _ = _destuff(data, start)
    br = _BitReader(stream)
    rst_iter = iter(rst_at)
    next_rst = next(rst_iter, None)

    def read_huff(table: dict) -> int:
        return _read_huff(br, table)  # shared canonical reader below

    preds = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                # byte-align and consume the recorded restart boundary
                br.align()
                if next_rst is not None and br.pos <= next_rst:
                    br.pos = next_rst
                    next_rst = next(rst_iter, None)
                preds = {c["id"]: 0 for c in comps}
            for c in order:
                dct = dc_t.get(c["td"])
                act = ac_t.get(c["ta"])
                q = qt.get(c["tq"])
                if dct is None or act is None or q is None:
                    raise ValueError("missing table")
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64)
                        size = read_huff(dct)
                        diff = _extend(br.read_bits(size), size) if size \
                            else 0
                        preds[c["id"]] += diff
                        zz[0] = preds[c["id"]]
                        k = 1
                        while k < 64:
                            sym = read_huff(act)
                            if sym == 0x00:
                                break
                            if sym == 0xF0:
                                k += 16
                                continue
                            run, s = sym >> 4, sym & 0xF
                            k += run
                            if k > 63:
                                break
                            zz[k] = _extend(br.read_bits(s), s)
                            k += 1
                        blk = np.zeros(64)
                        blk[_ZZ] = zz
                        bi = (my * c["v"] + by) * c["bw"] + (mx * c["h"] + bx)
                        c["coef"][bi] = blk.reshape(8, 8) * q
            mcu_count += 1

    planes = []
    for c in comps:
        blocks = np.einsum("ji,njk,kl->nil", _A, c["coef"], _A)  # IDCT
        plane = _unblockify(blocks, c["bh"] * 8, c["bw"] * 8) + 128.0
        fy, fx = vmax // c["v"], hmax // c["h"]
        if fy > 1 or fx > 1:
            plane = plane.repeat(fy, axis=0).repeat(fx, axis=1)
        planes.append(plane[:fh, :fw])
    if len(planes) == 1:
        return np.clip(planes[0], 0, 255).astype(np.uint8)
    if len(planes) == 3:
        return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
    raise NotImplementedError(f"{len(planes)}-component JPEG")


# ---------------------------------------------------------------------------
# progressive (SOF2) scans — spectral selection + successive
# approximation per ITU-T T.81 G.1.2 (round 4; the SOF2 gate retired)
# ---------------------------------------------------------------------------


def _read_huff(br: "_BitReader", table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad Huffman code")


def _decode_scan_progressive(data, start, frame, scomps, qt, dc_t, ac_t,
                             restart, ss, se, ah, al):
    """Decode ONE progressive scan into the components' integer zigzag
    coefficient state; returns the source offset just past the scan's
    entropy-coded data.  Handles all four scan classes: DC initial /
    refinement (interleaved or not) and AC initial / refinement
    (single-component by spec B.2.3)."""
    fh, fw, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    order = [by_id[s["id"]] for s in scomps]
    for c, s in zip(order, scomps):
        c["td"], c["ta"] = s["td"], s["ta"]

    stream, rst_at, consumed = _destuff(data, start)
    br = _BitReader(stream)
    rst_iter = iter(rst_at)
    next_rst = next(rst_iter, None)

    def restart_boundary():
        nonlocal next_rst
        br.align()
        if next_rst is not None and br.pos <= next_rst:
            br.pos = next_rst
            next_rst = next(rst_iter, None)

    if ss == 0:  # ---- DC scan (Se must be 0) ----------------------
        preds = {c["id"]: 0 for c in order}
        units = 0
        single = len(order) == 1
        if single:
            c = order[0]
            cells = [(c, by * c["bw"] + bx)
                     for by in range(c["cbh"]) for bx in range(c["cbw"])]
        else:
            cells = []
            for my in range(mcuy):
                for mx in range(mcux):
                    group = []
                    for c in order:
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                group.append(
                                    (c, (my * c["v"] + by) * c["bw"]
                                     + (mx * c["h"] + bx)))
                    cells.append(group)
        if ah == 0:  # initial DC pass
            dct = {c["id"]: dc_t.get(c["td"]) for c in order}
            if any(t is None for t in dct.values()):
                raise ValueError("missing DC table")

            def dc_block(c, bi):
                size = _read_huff(br, dct[c["id"]])
                diff = _extend(br.read_bits(size), size) if size else 0
                preds[c["id"]] += diff
                c["zz"][bi, 0] = preds[c["id"]] << al
        else:  # DC refinement: one raw bit per block
            def dc_block(c, bi):
                if br.read_bit():
                    c["zz"][bi, 0] |= (1 << al)
        if single:
            for k, (c, bi) in enumerate(cells):
                if restart and k and k % restart == 0:
                    restart_boundary()
                    preds = {c["id"]: 0 for c in order}
                dc_block(c, bi)
        else:
            for k, group in enumerate(cells):
                if restart and k and k % restart == 0:
                    restart_boundary()
                    preds = {c["id"]: 0 for c in order}
                for c, bi in group:
                    dc_block(c, bi)
        return consumed

    # ---- AC scan: exactly one component (B.2.3) --------------------
    if len(order) != 1:
        raise ValueError("progressive AC scan with multiple components")
    c = order[0]
    act = ac_t.get(c["ta"])
    if act is None:
        raise ValueError("missing AC table")
    eobrun = 0
    p1, m1 = 1 << al, -1 << al
    blocks = [by * c["bw"] + bx
              for by in range(c["cbh"]) for bx in range(c["cbw"])]
    for n_done, bi in enumerate(blocks):
        if restart and n_done and n_done % restart == 0:
            restart_boundary()
            eobrun = 0
        zz = c["zz"][bi]
        if ah == 0:  # ---- initial AC pass (G.1.2.2) ----
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                sym = _read_huff(br, act)
                r, s = sym >> 4, sym & 0xF
                if s == 0:
                    if r < 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.read_bits(r)
                        break
                    k += 16  # ZRL
                    continue
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                zz[k] = _extend(br.read_bits(s), s) << al
                k += 1
        else:  # ---- AC refinement (G.1.2.3, libjpeg structure) ----
            k = ss
            if eobrun == 0:
                while k <= se:
                    sym = _read_huff(br, act)
                    r, s = sym >> 4, sym & 0xF
                    if s == 0:
                        if r < 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += br.read_bits(r)
                            break
                        val = 0  # ZRL: skip 16 zero-history coeffs
                    else:
                        val = p1 if br.read_bit() else m1
                    while k <= se:
                        coef = int(zz[k])
                        if coef != 0:
                            if br.read_bit() and (coef & p1) == 0:
                                zz[k] = coef + (p1 if coef >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if s and k <= se:
                        zz[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    coef = int(zz[k])
                    if coef != 0 and br.read_bit() and (coef & p1) == 0:
                        zz[k] = coef + (p1 if coef >= 0 else m1)
                    k += 1
                eobrun -= 1
    return consumed


def _finish_progressive(frame, qt) -> np.ndarray:
    """Dequantize + IDCT + upsample the accumulated progressive
    coefficient state (same finishing math as the baseline scan)."""
    fh, fw, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for c in comps:
        q = qt.get(c["tq"])
        if q is None:
            raise ValueError("missing quant table")
        blk = np.zeros((c["zz"].shape[0], 64))
        blk[:, _ZZ] = c["zz"].astype(np.float64)
        coef = blk.reshape(-1, 8, 8) * q
        blocks = np.einsum("ji,njk,kl->nil", _A, coef, _A)
        plane = _unblockify(blocks, c["bh"] * 8, c["bw"] * 8) + 128.0
        fy, fx = vmax // c["v"], hmax // c["h"]
        if fy > 1 or fx > 1:
            plane = plane.repeat(fy, axis=0).repeat(fx, axis=1)
        planes.append(plane[:fh, :fw])
    if len(planes) == 1:
        return np.clip(planes[0], 0, 255).astype(np.uint8)
    if len(planes) == 3:
        return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
    raise NotImplementedError(f"{len(planes)}-component JPEG")
