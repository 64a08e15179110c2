"""JPEG decoder — pure python + numpy, no image library.

Scope: baseline sequential (SOF0/1) AND
progressive (SOF2) huffman DCT JPEGs — together the web's JPEGs —
with spectral selection, successive approximation (DC and AC
first/refinement scans, EOB runs), interleaved and single-component
scan orders, restart markers, dequantize + vectorized float IDCT,
chroma upsampling for arbitrary sampling factors (4:4:4 / 4:2:2 /
4:2:0), and JFIF YCbCr -> RGB.  Arithmetic-coded, lossless, and
hierarchical frames raise ``NotImplementedError`` — the honest
remaining seam, marked where the frame type is dispatched.

No reference counterpart: the reference processes documents only
(Services/FileProcessingService.cs:28-37 allowlists .txt/.md/.pdf/
.docx).  No pipeline stage calls it; only its tests
(tests/test_jpeg_codec.py, tests/test_codec_fuzz.py) do.
"""

from __future__ import annotations

import struct

import numpy as np

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal DCT-II basis: IDCT(B) = C.T @ B @ C
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * _k * (2 * _n + 1) / 16) * (
            np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8)
        )


class _HuffTable:
    """Canonical JPEG huffman table as a flat (code -> symbol) dict
    keyed by (length, code) — simple and fast enough for a kernel."""

    def __init__(self, bits: list[int], vals: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lookup[(length, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    byte-unstuffing; stops at any real marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # restart marker: caller resyncs
                raise _RestartMarker()
            else:
                raise EOFError("marker inside entropy stream")
        else:
            self.pos += 1
        # Mask to the live bits: without this, consumed history accumulates
        # in an ever-growing Python bigint and each fill's shift is O(bytes
        # read so far) -- quadratic in entropy-segment size (a 317 KB JPEG
        # took 107 s; masked it takes <1 s, bit-identical output).
        self.nbits += 8
        self.acc = ((self.acc << 8) | b) & ((1 << self.nbits) - 1)

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: _HuffTable) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code")

    def resync(self) -> None:
        """Skip to just past the next restart marker, drop partial bits."""
        self.acc = 0
        self.nbits = 0
        while True:
            if (self.data[self.pos] == 0xFF
                    and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
                self.pos += 2
                return
            self.pos += 1


class _RestartMarker(Exception):
    pass


def _extend(v: int, size: int) -> int:
    """JPEG sign extension (F.2.2.1): ``size``-bit magnitude to value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg_pixels(data: bytes):
    """Decode a baseline (SOF0/1) or PROGRESSIVE (SOF2) JPEG to
    uint8[h, w, 3] RGB (or [h, w, 1] for grayscale).

    Round 4: baseline and progressive share ONE coefficient-accumulating
    scan decoder — every SOS scan (spectral-selection band Ss..Se at
    successive-approximation precision Ah/Al, interleaved MCU order or
    single-component raster) writes into per-component zigzag
    coefficient arrays; dequantize + vectorized IDCT + upsampling +
    color transform run once at EOI.  Baseline is simply the
    Ss=0..Se=63, Ah=Al=0 interleaved special case.  Arithmetic-coded,
    lossless, and hierarchical frames raise ``NotImplementedError``."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None
    state: dict | None = None
    restart_interval = 0
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte: resync on the NEXT 0xFF
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        seg_len = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        body = data[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq:
                    tbl = np.frombuffer(body[i:i + 128], dtype=">u2").astype(np.float64)
                    i += 128
                else:
                    tbl = np.frombuffer(body[i:i + 64], dtype=np.uint8).astype(np.float64)
                    i += 64
                qt[tq] = tbl
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                vals = body[i + 17:i + 17 + nv]
                (huff_ac if tc else huff_dc)[th] = _HuffTable(bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext-seq / progressive
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision supported")
            if h == 0 or w == 0 or nc == 0:
                raise ValueError("degenerate frame dimensions")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                ch, cv = hv >> 4, hv & 15
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError("bad sampling factors")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline/progressive DCT JPEG (SOF0/1/2) supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            if len(body) < 4 + 2 * ns:
                raise ValueError("truncated SOS header")
            scan = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(
                    (x for x in frame["comps"] if x["id"] == cs), None
                )
                if comp is None:  # corrupt SOS: unknown component id
                    raise ValueError(f"scan references component {cs}")
                scan.append((comp, tt >> 4, tt & 15))
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if state is None:
                state = _init_coef_state(frame)
            pos = _decode_entropy(
                data, pos + 2 + seg_len, frame, scan, ss, se, ah, al,
                qt, huff_dc, huff_ac, restart_interval, state,
            )
            continue
        pos += 2 + seg_len
    if state is None:
        raise ValueError("no scan found")
    return _reconstruct(frame, state, qt)


def _frame_geometry(frame):
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcus_x = -(-frame["w"] // (8 * hmax))
    mcus_y = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcus_x, mcus_y


def _init_coef_state(frame):
    """Per-component zigzag coefficient arrays, padded to the full
    interleaved MCU grid (non-interleaved scans touch the top-left
    true-blocks sub-grid)."""
    hmax, vmax, mcus_x, mcus_y = _frame_geometry(frame)
    state = {}
    for comp in frame["comps"]:
        state[comp["id"]] = np.zeros(
            (mcus_y * comp["v"], mcus_x * comp["h"], 64), dtype=np.int64
        )
    return state


def _comp_true_blocks(frame, comp):
    """Block-grid dims of a component OUTSIDE interleaved MCU padding
    (JPEG A.2.2: non-interleaved scans cover exactly these blocks)."""
    hmax, vmax, _, _ = _frame_geometry(frame)
    cw = -(-frame["w"] * comp["h"] // hmax)
    chh = -(-frame["h"] * comp["v"] // vmax)
    return -(-chh // 8), -(-cw // 8)


def _decode_entropy(data, pos, frame, scan, ss, se, ah, al,
                    qt, huff_dc, huff_ac, restart, state):
    """Decode one scan's entropy segment into the coefficient state;
    returns the position just past the segment."""
    if not (0 <= ss <= se <= 63) or al > 13 or ah > 13:
        raise ValueError("bad spectral/approximation parameters")
    if ss > 0 and len(scan) != 1:
        raise ValueError("AC scans must be single-component")
    if frame["progressive"] and ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    needs_dc = ss == 0 and ah == 0
    needs_ac = se > 0
    for comp, tdc, tac in scan:
        if comp["tq"] not in qt:
            raise ValueError("scan references an undeclared quant table")
        if needs_dc and tdc not in huff_dc:
            raise ValueError("scan references an undeclared DC table")
        if needs_ac and tac not in huff_ac:
            raise ValueError("scan references an undeclared AC table")
    reader = _BitReader(data, pos)
    pred = {comp["id"]: 0 for comp, _, _ in scan}
    eob = {"run": 0}

    def dc_unit(c, tdc):
        if ah == 0:
            size = reader.huff(huff_dc[tdc])
            if size > 15:  # corrupt DHT: a huge magnitude category
                raise ValueError("bad DC magnitude size")
            diff = _extend(reader.bits(size), size) if size else 0
            cid_pred = pred[cur_cid[0]] + diff
            pred[cur_cid[0]] = cid_pred
            c[0] = cid_pred << al
        elif reader.bit():
            c[0] |= 1 << al

    def ac_first(c, tac):
        if eob["run"] > 0:
            eob["run"] -= 1
            return
        k = max(ss, 1)  # in a baseline scan (Ss=0) AC starts after DC
        while k <= se:
            rs = reader.huff(huff_ac[tac])
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                eob["run"] = (1 << r) - 1
                if r:
                    eob["run"] += reader.bits(r)
                break
            k += r
            if k > se:
                raise ValueError("AC index out of range")
            c[k] = _extend(reader.bits(s), s) << al
            k += 1

    def ac_refine(c, tac):
        # G.1.2.3 successive-approximation AC refinement: correction
        # bits for already-nonzero coeffs, new +-1<<al coefficients
        # placed after their zero runs.  An EOB code ends the CURRENT
        # block's codes but its remaining band positions still carry
        # correction bits (the tail pass below); the EOB run counts
        # FOLLOWING whole-tail blocks.
        p1 = 1 << al
        k = max(ss, 1)
        tail = False
        if eob["run"] > 0:
            eob["run"] -= 1
            tail = True
        else:
            while k <= se:
                rs = reader.huff(huff_ac[tac])
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r < 15:
                        eob["run"] = (1 << r) - 1
                        if r:
                            eob["run"] += reader.bits(r)
                        tail = True
                        break
                    # r == 15: pass 16 zero-history coefficients
                elif s == 1:
                    val = p1 if reader.bit() else -p1
                else:
                    raise ValueError("bad AC refinement size")
                while k <= se:
                    if c[k] != 0:
                        if reader.bit() and (abs(int(c[k])) & p1) == 0:
                            c[k] += p1 if c[k] > 0 else -p1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    c[k] = val
                k += 1
        if tail:
            while k <= se:
                if c[k] != 0 and reader.bit() and (abs(int(c[k])) & p1) == 0:
                    c[k] += p1 if c[k] > 0 else -p1
                k += 1

    cur_cid = [None]

    def unit(comp, tdc, tac, byy, bxx):
        cur_cid[0] = comp["id"]
        c = state[comp["id"]][byy, bxx]
        if ss == 0:
            dc_unit(c, tdc)
        if se > 0:
            if ah == 0:
                ac_first(c, tac)
            else:
                ac_refine(c, tac)

    def do_restart():
        reader.resync()
        for k in pred:
            pred[k] = 0
        eob["run"] = 0

    try:
        if len(scan) > 1:  # interleaved MCU order
            _, _, mcus_x, mcus_y = _frame_geometry(frame)
            count = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if restart and count and count % restart == 0:
                        do_restart()
                    for comp, tdc, tac in scan:
                        for by in range(comp["v"]):
                            for bx in range(comp["h"]):
                                unit(comp, tdc, tac,
                                     my * comp["v"] + by,
                                     mx * comp["h"] + bx)
                    count += 1
        else:  # non-interleaved: the component's true blocks, raster
            comp, tdc, tac = scan[0]
            nby, nbx = _comp_true_blocks(frame, comp)
            count = 0
            for by in range(nby):
                for bx in range(nbx):
                    if restart and count and count % restart == 0:
                        do_restart()
                    unit(comp, tdc, tac, by, bx)
                    count += 1
    except _RestartMarker:
        raise ValueError("unexpected restart marker") from None
    return reader.pos


def _reconstruct(frame, state, qt):
    """Dequantize + IDCT every component (vectorized across blocks),
    upsample to full resolution, crop, color-convert."""
    h, w = frame["h"], frame["w"]
    hmax, vmax, _, _ = _frame_geometry(frame)
    out = []
    for comp in frame["comps"]:
        if comp["tq"] not in qt:
            raise ValueError("component references an undeclared quant table")
        coefs = state[comp["id"]]
        nby, nbx = coefs.shape[:2]
        deq = coefs.reshape(-1, 64).astype(np.float64) * qt[comp["tq"]]
        mats = np.zeros((deq.shape[0], 64))
        mats[:, ZIGZAG] = deq
        blocks = np.einsum("ij,njk,kl->nil", _C.T, mats.reshape(-1, 8, 8), _C)
        plane = (
            blocks.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        if comp["h"] != hmax or comp["v"] != vmax:
            # Nearest-neighbor gather via index maps rather than np.repeat:
            # integer-divisible ratios (2:1, 4:1) give results identical to
            # repeat, and legal non-divisible mixes (e.g. hmax=3 vs h=2)
            # upsample correctly instead of producing a short plane that
            # breaks np.stack in the color transform.
            ri = np.minimum((np.arange(h) * comp["v"]) // vmax,
                            plane.shape[0] - 1)
            ci = np.minimum((np.arange(w) * comp["h"]) // hmax,
                            plane.shape[1] - 1)
            out.append(plane[ri[:, None], ci])
        else:
            out.append(plane[:h, :w])
    if len(out) == 1:
        y = np.clip(np.round(out[0] + 128.0), 0, 255)
        return y.astype(np.uint8)[:, :, None]
    if len(out) != 3:
        raise NotImplementedError(f"{len(out)}-component color not supported")
    y, cb, cr = out[0] + 128.0, out[1], out[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
