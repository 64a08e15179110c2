"""JPEG decoder tests: round-trip against independent in-test encoders
(forward DCT + canonical huffman + byte stuffing), covering baseline
4:4:4 / 4:2:0 / grayscale / restart markers AND full progressive
(spectral selection + successive approximation with DC/AC first and
refinement scans, per-block EOB) — the progressive stream must decode
to pixels IDENTICAL to the baseline encoding of the same image."""

import struct

import numpy as np
import pytest

from driftmind_spark.kernels.imagecodec import ZIGZAG, _C, decode_jpeg_pixels


# ---- reference encoder (independent of the decoder) ------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def align(self):
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _huff_spec(symbols):
    """All codes at length 8 (canonical): bits list + vals + code map."""
    vals = sorted(set(symbols))
    assert len(vals) < 255
    bits = [0] * 16
    bits[7] = len(vals)
    codes = {s: i for i, s in enumerate(vals)}
    return bits, bytes(vals), codes


def _mag_bits(v):
    s = int(abs(v)).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _encode_jpeg(rgb, sampling=(1, 1), restart=0):
    """Minimal baseline JFIF writer: all-ones quant tables (error =
    DCT-coefficient rounding only), one shared DC and AC huffman table,
    optional 4:2:0 chroma subsampling and restart markers."""
    rgb = np.asarray(rgb, dtype=np.float64)
    h, w = rgb.shape[:2]
    gray = rgb.ndim == 2 or rgb.shape[2] == 1
    if gray:
        comps = [(1, 1, 1, rgb.reshape(h, w) - 128.0)]
    else:
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        sh, sv = sampling
        comps = [(1, sh, sv, y)]
        for cid, plane in ((2, cb), (3, cr)):
            if sh > 1 or sv > 1:
                ph = -(-h // sv) * sv
                pw = -(-w // sh) * sh
                p = np.zeros((ph, pw))
                p[:h, :w] = plane
                p[h:] = p[h - 1:h]
                p[:, w:] = p[:, w - 1:w]
                plane = p.reshape(ph // sv, sv, pw // sh, sh).mean(axis=(1, 3))
            comps.append((cid, 1, 1, plane))
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # pad every plane to its MCU-covered size (edge replicate)
    padded = []
    for cid, ch, cv, plane in comps:
        ph, pw = mcus_y * cv * 8, mcus_x * ch * 8
        p = np.zeros((ph, pw))
        p[:plane.shape[0], :plane.shape[1]] = plane
        p[plane.shape[0]:] = p[plane.shape[0] - 1:plane.shape[0]]
        p[:, plane.shape[1]:] = p[:, plane.shape[1] - 1:plane.shape[1]]
        padded.append((cid, ch, cv, p))

    # pass 1: quantized blocks in MCU order + symbol collection
    mcu_stream = []  # (cid, zz_vector)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for cid, ch, cv, p in padded:
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        blk = p[y0:y0 + 8, x0:x0 + 8]
                        coef = _C @ blk @ _C.T
                        zz = np.round(coef.reshape(64)[ZIGZAG]).astype(int)
                        mcu_stream.append((cid, zz))

    dc_syms, ac_syms = [], []
    pred = {cid: 0 for cid, *_ in padded}
    tokens = []
    mcu_sizes = {cid: ch * cv for cid, ch, cv, _ in padded}
    per_mcu = sum(mcu_sizes.values())
    for i, (cid, zz) in enumerate(mcu_stream):
        if restart and i % (restart * per_mcu) == 0 and i:
            pred = {c: 0 for c in pred}
            tokens.append(("RST",))
        diff = int(zz[0]) - pred[cid]
        pred[cid] = int(zz[0])
        s, mb = _mag_bits(diff)
        dc_syms.append(s)
        tok = [("DC", s, mb)]
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms.append(0xF0)
                tok.append(("AC", 0xF0, 0, 0))
                run -= 16
            s, mb = _mag_bits(v)
            sym = (run << 4) | s
            ac_syms.append(sym)
            tok.append(("AC", sym, s, mb))
            run = 0
        if run:
            ac_syms.append(0x00)
            tok.append(("AC", 0x00, 0, 0))
        tokens.append(("BLK", tok))

    dc_bits, dc_vals, dc_codes = _huff_spec(dc_syms)
    ac_bits, ac_vals, ac_codes = _huff_spec(ac_syms)

    bw = _BitWriter()
    rst_i = 0
    for t in tokens:
        if t[0] == "RST":
            bw.align()
            bw.out += bytes([0xFF, 0xD0 + rst_i % 8])
            rst_i += 1
            continue
        for part in t[1]:
            if part[0] == "DC":
                _, s, mb = part
                bw.put(dc_codes[s], 8)
                if s:
                    bw.put(mb, s)
            else:
                _, sym, s, mb = part
                bw.put(ac_codes[sym], 8)
                if s:
                    bw.put(mb, s)
    bw.align()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))  # quant table 0 = ones
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, ch, cv, _ in comps:
        sof += bytes([cid, (ch << 4) | cv, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(dc_bits) + dc_vals)
    out += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + ac_vals)
    if restart:
        out += seg(0xDD, struct.pack(">H", restart))
    sos = bytes([len(comps)])
    for cid, *_ in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bytes(bw.out)
    out += b"\xff\xd9"
    return out


# ---- tests -----------------------------------------------------------------

def _rgb_from_ycbcr_exact(rgb):
    """Expected decoder output for an all-ones-quant 4:4:4 encode: the
    only loss is rounding of DCT coefficients, so decode(encode(x))
    must match x within a small bound."""
    return np.asarray(rgb, dtype=np.float64)


def test_jpeg_444_roundtrip_close():
    rng = np.random.RandomState(31)
    img = rng.randint(0, 256, size=(24, 17, 3)).astype(np.uint8)
    got = decode_jpeg_pixels(_encode_jpeg(img))
    assert got.shape == (24, 17, 3)
    err = np.abs(got.astype(float) - img.astype(float))
    # all-ones quant: error = coef rounding (<=0.5/coef) through IDCT +
    # color-transform roundings; stays within a few counts
    assert err.max() <= 6, err.max()
    assert err.mean() <= 1.5, err.mean()


def test_jpeg_flat_color_near_exact():
    img = np.full((16, 16, 3), [200, 64, 31], dtype=np.uint8)
    got = decode_jpeg_pixels(_encode_jpeg(img))
    assert np.abs(got.astype(float) - img.astype(float)).max() <= 1


def test_jpeg_grayscale():
    rng = np.random.RandomState(37)
    img = rng.randint(0, 256, size=(19, 23)).astype(np.uint8)
    got = decode_jpeg_pixels(_encode_jpeg(img))
    assert got.shape == (19, 23, 1)
    assert np.abs(got[:, :, 0].astype(float) - img.astype(float)).max() <= 3


def test_jpeg_420_subsampled():
    """Chroma-constant image: 4:2:0 subsample+upsample is lossless for
    the chroma planes, so the round-trip stays tight."""
    rng = np.random.RandomState(41)
    gray = rng.randint(40, 216, size=(32, 24)).astype(np.float64)
    img = np.stack([
        np.clip(gray + 20, 0, 255),
        gray,
        np.clip(gray - 10, 0, 255),
    ], axis=2).astype(np.uint8)
    got = decode_jpeg_pixels(_encode_jpeg(img, sampling=(2, 2)))
    err = np.abs(got.astype(float) - img.astype(float))
    assert err.max() <= 8, err.max()
    assert err.mean() <= 2.0, err.mean()


def test_jpeg_restart_markers():
    rng = np.random.RandomState(43)
    img = rng.randint(0, 256, size=(16, 40, 3)).astype(np.uint8)
    plain = decode_jpeg_pixels(_encode_jpeg(img))
    with_rst = decode_jpeg_pixels(_encode_jpeg(img, restart=2))
    assert np.array_equal(plain, with_rst)


def test_jpeg_sof2_flag_enforces_progressive_constraints():
    """A baseline scan inside a frame MARKED progressive violates the
    progressive DC-scan rule (Ss=0 requires Se=0) and must be rejected
    — not silently mis-decoded."""
    rng = np.random.RandomState(47)
    img = rng.randint(0, 256, size=(8, 8, 3)).astype(np.uint8)
    data = bytearray(_encode_jpeg(img))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="progressive DC scan"):
        decode_jpeg_pixels(bytes(data))


# ---- round 4b: PROGRESSIVE encoder (independent, spec figure G.7) ---------

def _quantize_comps(rgb, sampling=(1, 1)):
    """Shared quantizer for the progressive writer: all-ones quant
    tables, zigzag coefficient blocks per component on the padded MCU
    grid, plus each component's true (non-interleaved) block dims."""
    rgb = np.asarray(rgb, dtype=np.float64)
    h, w = rgb.shape[:2]
    gray = rgb.ndim == 2 or rgb.shape[2] == 1
    if gray:
        comps = [(1, 1, 1, rgb.reshape(h, w) - 128.0)]
    else:
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        sh, sv = sampling
        comps = [(1, sh, sv, y)]
        for cid, plane in ((2, cb), (3, cr)):
            if sh > 1 or sv > 1:
                ph, pw = -(-h // sv) * sv, -(-w // sh) * sh
                p = np.zeros((ph, pw))
                p[:h, :w] = plane
                p[h:] = p[h - 1:h]
                p[:, w:] = p[:, w - 1:w]
                plane = p.reshape(ph // sv, sv, pw // sh, sh).mean(axis=(1, 3))
            comps.append((cid, 1, 1, plane))
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    out = []
    for cid, ch, cv, plane in comps:
        pby, pbx = mcus_y * cv, mcus_x * ch
        p = np.zeros((pby * 8, pbx * 8))
        p[:plane.shape[0], :plane.shape[1]] = plane
        p[plane.shape[0]:] = p[plane.shape[0] - 1:plane.shape[0]]
        p[:, plane.shape[1]:] = p[:, plane.shape[1] - 1:plane.shape[1]]
        blocks = np.zeros((pby, pbx, 64), dtype=np.int64)
        for by in range(pby):
            for bx in range(pbx):
                blk = p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                coef = _C @ blk @ _C.T
                blocks[by, bx] = np.round(coef.reshape(64)[ZIGZAG]).astype(int)
        cw, chh = -(-w * ch // hmax), -(-h * cv // vmax)
        out.append({"cid": cid, "h": ch, "v": cv, "blocks": blocks,
                    "nby": -(-chh // 8), "nbx": -(-cw // 8)})
    return h, w, out, mcus_x, mcus_y


def _tok_scan(tokens):
    """tokens -> (DHT body or None, packed entropy bytes).  All huffman
    codes canonical length 8 (as in the baseline writer)."""
    syms = [t[1] for t in tokens if t[0] == "sym"]
    dht = codes = None
    if syms:
        bits, vals, codes = _huff_spec(syms)
        dht = bytes(bits) + vals
    bw = _BitWriter()
    for t in tokens:
        if t[0] == "sym":
            bw.put(codes[t[1]], 8)
        else:
            _, v, nb = t
            bw.put(v, nb)
    bw.align()
    return dht, bytes(bw.out)


def _encode_jpeg_progressive(rgb, sampling=(1, 1)):
    """Progressive JFIF writer implementing spectral selection +
    successive approximation per spec figures G.4-G.7 — an independent
    inverse of the decoder's documented walk (per-block EOB, no run
    batching), using libjpeg's default scan script shape."""
    import struct as st

    h, w, comps, mcus_x, mcus_y = _quantize_comps(rgb, sampling)
    gray = len(comps) == 1

    def mcu_block_order():
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, c in enumerate(comps):
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            yield ci, my * c["v"] + by, mx * c["h"] + bx

    def dc_first(al):
        toks = []
        pred = [0] * len(comps)
        for ci, by, bx in mcu_block_order():
            v = int(comps[ci]["blocks"][by, bx, 0]) >> al
            diff = v - pred[ci]
            pred[ci] = v
            s, mb = _mag_bits(diff)
            toks.append(("sym", s))
            if s:
                toks.append(("bits", mb, s))
        return toks, None

    def dc_refine(al):
        toks = []
        for ci, by, bx in mcu_block_order():
            toks.append(("bits", (int(comps[ci]["blocks"][by, bx, 0]) >> al) & 1, 1))
        return toks, None

    def _blocks_of(ci):
        c = comps[ci]
        for by in range(c["nby"]):
            for bx in range(c["nbx"]):
                yield c["blocks"][by, bx]

    def ac_first(ci, ss, se, al):
        toks = []
        for c in _blocks_of(ci):
            r = 0
            for k in range(ss, se + 1):
                v = int(c[k])
                t = (abs(v) >> al) * (1 if v >= 0 else -1)
                if t == 0:
                    r += 1
                    continue
                while r > 15:
                    toks.append(("sym", 0xF0))
                    r -= 16
                s, mb = _mag_bits(t)
                toks.append(("sym", (r << 4) | s))
                toks.append(("bits", mb, s))
                r = 0
            if r:
                toks.append(("sym", 0x00))  # per-block EOB
        return toks, ci

    def ac_refine(ci, ss, se, al):
        toks = []
        for c in _blocks_of(ci):
            t = [abs(int(c[k])) >> al for k in range(64)]
            hist = [abs(int(c[k])) >> (al + 1) for k in range(64)]
            k = ss
            while True:
                j = next((i for i in range(k, se + 1)
                          if hist[i] == 0 and t[i] == 1), None)
                if j is None:
                    if k <= se:  # decoder stops requesting codes past Se
                        toks.append(("sym", 0x00))
                        for i in range(k, se + 1):
                            if hist[i]:
                                toks.append(("bits", t[i] & 1, 1))
                    break
                r = sum(1 for i in range(k, j) if hist[i] == 0 and t[i] == 0)
                pos = k
                while r > 15:
                    toks.append(("sym", 0xF0))
                    zeros = 0
                    while zeros < 16:
                        if hist[pos]:
                            toks.append(("bits", t[pos] & 1, 1))
                        else:
                            zeros += 1
                        pos += 1
                    r -= 16
                toks.append(("sym", (r << 4) | 1))
                toks.append(("bits", 1 if int(c[j]) > 0 else 0, 1))
                while pos < j:
                    if hist[pos]:
                        toks.append(("bits", t[pos] & 1, 1))
                    pos += 1
                k = j + 1
        return toks, ci

    if gray:
        script = [
            ("dc", dc_first(1), None, 0, 0, 0, 1),
            ("ac", ac_first(0, 1, 63, 1), 0, 1, 63, 0, 1),
            ("dc", dc_refine(0), None, 0, 0, 1, 0),
            ("ac", ac_refine(0, 1, 63, 0), 0, 1, 63, 1, 0),
        ]
    else:
        script = [
            ("dc", dc_first(1), None, 0, 0, 0, 1),
            ("ac", ac_first(0, 1, 5, 2), 0, 1, 5, 0, 2),
            ("ac", ac_first(2, 1, 63, 1), 2, 1, 63, 0, 1),
            ("ac", ac_first(1, 1, 63, 1), 1, 1, 63, 0, 1),
            ("ac", ac_first(0, 6, 63, 2), 0, 6, 63, 0, 2),
            ("ac", ac_refine(0, 1, 63, 1), 0, 1, 63, 2, 1),
            ("dc", dc_refine(0), None, 0, 0, 1, 0),
            ("ac", ac_refine(2, 1, 63, 0), 2, 1, 63, 1, 0),
            ("ac", ac_refine(1, 1, 63, 0), 1, 1, 63, 1, 0),
            ("ac", ac_refine(0, 1, 63, 0), 0, 1, 63, 1, 0),
        ]

    def seg(marker, body):
        return bytes([0xFF, marker]) + st.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))
    sof = st.pack(">BHHB", 8, h, w, len(comps))
    for c in comps:
        sof += bytes([c["cid"], (c["h"] << 4) | c["v"], 0])
    out += seg(0xC2, sof)  # SOF2: progressive
    for kind, (toks, ci), *_rest in script:
        ss, se, ah, al = _rest[1], _rest[2], _rest[3], _rest[4]
        dht, payload = _tok_scan(toks)
        if dht is not None:
            tc = 0x00 if kind == "dc" else 0x10
            out += seg(0xC4, bytes([tc]) + dht)
        scan_comps = comps if _rest[0] is None else [comps[_rest[0]]]
        sos = bytes([len(scan_comps)])
        for c in scan_comps:
            sos += bytes([c["cid"], 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        out += payload
    out += b"\xff\xd9"
    return out


def test_jpeg_progressive_matches_baseline_decode():
    """The full progressive scan script ends at Al=0 everywhere, so the
    accumulated coefficients equal the baseline encoding's — decoded
    pixels must be IDENTICAL."""
    rng = np.random.RandomState(73)
    img = rng.randint(0, 256, size=(24, 17, 3)).astype(np.uint8)
    base = decode_jpeg_pixels(_encode_jpeg(img))
    prog = decode_jpeg_pixels(_encode_jpeg_progressive(img))
    assert np.array_equal(base, prog)


def test_jpeg_progressive_grayscale_and_subsampled():
    rng = np.random.RandomState(79)
    gimg = rng.randint(0, 256, size=(19, 21)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg_pixels(_encode_jpeg(gimg)),
        decode_jpeg_pixels(_encode_jpeg_progressive(gimg)),
    )
    cimg = rng.randint(0, 256, size=(22, 27, 3)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg_pixels(_encode_jpeg(cimg, sampling=(2, 2))),
        decode_jpeg_pixels(_encode_jpeg_progressive(cimg, sampling=(2, 2))),
    )


def test_bitreader_accumulator_stays_bounded():
    """Round-5 perf regression (advice item): _BitReader._fill used to
    keep ALL consumed history in `acc`, so each fill shifted an
    ever-growing Python bigint — decode time quadratic in entropy-
    segment size (a 317 KB JPEG took 107 s).  Pin the fix structurally:
    after consuming a large stream the accumulator must hold only the
    live bits, never the history."""
    from driftmind_spark.kernels.imagecodec import _BitReader

    data = bytes([0x55]) * 65536  # no 0xFF, so the reader never stops
    r = _BitReader(data, 0)
    for _ in range(65536):
        r.bits(8)
    # live bits only: at most one byte outstanding (plus the mask slack)
    assert r.acc.bit_length() <= 16, (
        f"accumulator retained {r.acc.bit_length()} bits of history"
    )


def test_large_jpeg_decodes_quickly():
    """End-to-end guard for the same quadratic-bigint bug: a noise image
    whose entropy segment is a few hundred KB must decode in seconds,
    not minutes (pre-fix: 317 KB took 107 s; post-fix <1 s)."""
    import time

    rng = np.random.RandomState(19)
    img = rng.randint(0, 256, size=(256, 256, 3)).astype(np.uint8)
    blob = _encode_jpeg(img)
    assert len(blob) > 100_000  # noise compresses badly — real-size stream
    t0 = time.monotonic()
    out = decode_jpeg_pixels(blob)
    elapsed = time.monotonic() - t0
    assert out.shape == (256, 256, 3)
    # generous bound: linear path is ~1-3 s here even on a loaded host;
    # the quadratic path exceeded 60 s at this size
    assert elapsed < 30, f"large-JPEG decode took {elapsed:.1f}s"


def test_non_integer_chroma_ratio_upsamples():
    """Legal non-divisible sampling mixes (hmax=3 vs comp h=2) used to
    produce a short chroma plane and crash np.stack with ValueError;
    the index-map gather must upsample them correctly."""
    from driftmind_spark.kernels.imagecodec import _reconstruct

    frame = {
        "h": 8, "w": 48, "progressive": False,
        "comps": [
            {"id": 1, "h": 3, "v": 1, "tq": 0},
            {"id": 2, "h": 2, "v": 1, "tq": 0},
            {"id": 3, "h": 2, "v": 1, "tq": 0},
        ],
    }
    # hmax=3, vmax=1 -> mcus_x = ceil(48/24) = 2: Y grid 1x6, chroma 1x4
    state = {
        1: np.zeros((1, 6, 64), dtype=np.int64),
        2: np.zeros((1, 4, 64), dtype=np.int64),
        3: np.zeros((1, 4, 64), dtype=np.int64),
    }
    # flat DC-only blocks: distinct Cb DC per block so the gather map is
    # observable in the output
    for bx in range(4):
        state[2][0, bx, 0] = 80 * (bx % 2)
    out = _reconstruct(frame, state, {0: np.ones(64)})
    assert out.shape == (8, 48, 3)
    # chroma x-coverage: target col i reads chroma col (i*2)//3 — block 0
    # (cols 0..7 of the chroma plane) covers output cols 0..11
    # (dc=0 -> b == y), block 1 (chroma cols 8..15, dc=80) covers output
    # cols 12..23 (b > y by ~1.772 * 80/8)
    assert int(out[0, 0, 2]) == int(out[0, 0, 1])  # Cb=0 region: b == g
    assert int(out[0, 20, 2]) > int(out[0, 20, 1]) + 10  # Cb>0 region


def test_jpeg_arithmetic_still_raises():
    rng = np.random.RandomState(83)
    img = rng.randint(0, 256, size=(8, 8, 3)).astype(np.uint8)
    data = bytearray(_encode_jpeg(img))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC9  # arithmetic-coded sequential
    with pytest.raises(NotImplementedError, match="SOF0/1/2"):
        decode_jpeg_pixels(bytes(data))
