"""JFIF (JPEG) codec in pure numpy + stdlib: baseline AND progressive.

The container has no PIL/libjpeg, and the round-3 verdict recorded JPEG
as the one multimodal payload class left on the digest-stub path. This
module closes that: a baseline sequential DCT decoder (SOF0, 8-bit,
1–3 components, arbitrary sampling factors up to 2x2, restart markers),
a full progressive decoder (SOF2, spectral selection + successive
approximation, EOB runs — T.81 Annex G.2), and matching encoders used
to synthesize deterministic test payloads (the progressive encoder
emits per-scan optimal Huffman tables, since EOBn symbols are not in
the Annex K tables). Progressive correctness is pinned coefficient-
exactly: both encoders emit the SAME quantized coefficients, so the
two decodes must be bit-identical.

Everything here derives from the public JPEG specification (ITU-T T.81 /
ISO 10918-1): Annex K example quantization + Huffman tables, the zigzag
order, the canonical Huffman code construction (Annex C), the extend()
sign convention (F.2.2.1), and the JFIF YCbCr color transform.

Decode path per payload is numpy-vectorized where it matters (batched
8x8 IDCT via two matmuls over all blocks of a component at once); the
entropy scan is a sequential bit loop by nature — fine for the
thumbnail/preview payloads a feature-extraction pass decodes, and the
Spark-side parallelism is per-row anyway (operators/multimodal.py).
"""

from __future__ import annotations

import struct

import numpy as np

# Zigzag order: raster index of the i-th coefficient in zigzag sequence.
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1/K.2 example quantization tables (raster order).
QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL).
DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
DC_CHROM = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix T: forward F = T f T', inverse
    f = T' F T (the scaling baseline JPEG's FDCT/IDCT pair uses)."""
    k = np.arange(8).reshape(8, 1)
    n = np.arange(8).reshape(1, 8)
    t = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8.0)
    t[0, :] /= np.sqrt(2.0)
    return t


_T = _dct_matrix()


def _canonical_codes(bits: list[int], vals: list[int]):
    """Annex C: (symbol -> (code, length)) and (length, code) -> symbol."""
    enc: dict[int, tuple[int, int]] = {}
    dec: dict[tuple[int, int], int] = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[i]
            enc[sym] = (code, length)
            dec[(length, code)] = sym
            code += 1
            i += 1
        code <<= 1
    return enc, dec


# ---------------------------------------------------------------------------
# Encoder (deterministic test payloads)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(
    w: _BitWriter, block: np.ndarray, qt: np.ndarray, dc_enc, ac_enc, pred: int
) -> int:
    """FDCT + quantize + entropy-encode one level-shifted 8x8 block;
    returns the new DC predictor."""
    coeff = _T @ block @ _T.T
    q = np.round(coeff.reshape(64) / qt.astype(np.float64)).astype(np.int64)
    zz = q[ZIGZAG]
    diff = int(zz[0]) - pred
    t = _category(diff)
    code, length = dc_enc[t]
    w.write(code, length)
    if t:
        w.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]
            w.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_enc[(run << 4) | s]
        w.write(code, length)
        w.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, length = ac_enc[0x00]
        w.write(code, length)
    return int(zz[0])


def rgb_to_jfif_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.clip(np.stack([y, cb, cr], axis=-1), 0, 255)


def encode_jpeg(
    rgb: np.ndarray, *, subsampling: str = "444", restart_interval: int = 0
) -> bytes:
    """Baseline JFIF bytes for an HxWx3 uint8 array.

    subsampling '444' (one block per component per MCU) or '420'
    (2x2 Y blocks + averaged chroma per MCU). restart_interval > 0
    emits DRI + RSTn markers every that many MCUs (decoder-path test).
    """
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    h, w = rgb.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ycc = rgb_to_jfif_ycbcr(rgb)
    y = ycc[..., 0]
    if subsampling == "420":
        # Average 2x2 neighborhoods (edge-replicated to even dims first).
        ph, pw = -h % 2, -w % 2
        cpad = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
        cb = cpad[0::2, 0::2, 1] / 4 + cpad[0::2, 1::2, 1] / 4 + cpad[1::2, 0::2, 1] / 4 + cpad[1::2, 1::2, 1] / 4
        cr = cpad[0::2, 0::2, 2] / 4 + cpad[0::2, 1::2, 2] / 4 + cpad[1::2, 0::2, 2] / 4 + cpad[1::2, 1::2, 2] / 4
        hy, vy = 2, 2
    else:
        cb, cr = ycc[..., 1], ycc[..., 2]
        hy, vy = 1, 1

    dc_l_enc, _ = _canonical_codes(*DC_LUM)
    ac_l_enc, _ = _canonical_codes(*AC_LUM)
    dc_c_enc, _ = _canonical_codes(*DC_CHROM)
    ac_c_enc, _ = _canonical_codes(*AC_CHROM)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, qt in ((0, QT_LUM), (1, QT_CHROM)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(int(v) for v in qt[ZIGZAG])
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += bytes([1, (hy << 4) | vy, 0, 2, 0x11, 1, 3, 0x11, 1])
    for tc, th, (bits, vals) in (
        (0, 0, DC_LUM), (1, 0, AC_LUM), (0, 1, DC_CHROM), (1, 1, AC_CHROM)
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), (tc << 4) | th)
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    out += bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])

    mcu_w, mcu_h = 8 * hy, 8 * vy
    mcux = -(-w // mcu_w)
    mcuy = -(-h // mcu_h)
    ypad = np.pad(
        y.astype(np.float64) - 128.0,
        ((0, mcuy * mcu_h - h), (0, mcux * mcu_w - w)),
        mode="edge",
    )
    cpl = [
        np.pad(
            c.astype(np.float64) - 128.0,
            ((0, mcuy * 8 - c.shape[0]), (0, mcux * 8 - c.shape[1])),
            mode="edge",
        )
        for c in (cb, cr)
    ]
    bw = _BitWriter()
    preds = [0, 0, 0]
    nmcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and nmcu and nmcu % restart_interval == 0:
                bw.pad()
                out += bw.out
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0, 0, 0]
            for by in range(vy):
                for bx in range(hy):
                    yy, xx = my * mcu_h + by * 8, mx * mcu_w + bx * 8
                    preds[0] = _encode_block(
                        bw, ypad[yy : yy + 8, xx : xx + 8], QT_LUM, dc_l_enc, ac_l_enc, preds[0]
                    )
            for ci, plane in enumerate(cpl):
                blk = plane[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
                preds[ci + 1] = _encode_block(
                    bw, blk, QT_CHROM, dc_c_enc, ac_c_enc, preds[ci + 1]
                )
            nmcu += 1
    bw.pad()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def jpeg_bytes(w: int, h: int, seed: int = 0, *, subsampling: str = "444") -> bytes:
    """Deterministic smooth-gradient JPEG payload (smooth content keeps
    quantization error small, so round-trip tests can assert tight
    reconstruction bounds)."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    base = rng.uniform(40, 215, size=3)
    slope = rng.uniform(-60, 60, size=(3, 2))
    chans = [
        np.clip(base[c] + slope[c, 0] * yy / max(h, 1) + slope[c, 1] * xx / max(w, 1), 0, 255)
        for c in range(3)
    ]
    rgb = np.stack(chans, axis=-1).astype(np.uint8)
    return encode_jpeg(rgb, subsampling=subsampling)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("entropy stream truncated")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def huffman(self, dec: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            sym = dec.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """F.2.2.1 sign extension of a t-bit magnitude."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes):
    """Decode baseline (SOF0/1) or progressive (SOF2) JFIF bytes to
    (HxWx3 uint8 RGB). Returns None for non-JPEG or unsupported
    variants (12-bit, arithmetic coding, hierarchical, >2x2 sampling)
    — callers fall through to other decoders/stub, never raise for
    ordinary corruption. A progressive stream truncated after ≥1
    complete scan renders the coarser partial image (the format's
    defining property)."""
    try:
        return _decode_jpeg_strict(payload)
    except (ValueError, IndexError, struct.error, OverflowError, MemoryError):
        return None


def _decode_jpeg_strict(payload: bytes):
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    qts: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    prog_coefs = None  # progressive: persistent per-component coefficients
    p_mcux = p_mcuy = 0
    prog_done = 0  # completed progressive scans
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            return None
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker.
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > n:
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        if pos + 2 + seglen > n and prog_done:
            # Segment body truncated after >=1 complete progressive scan:
            # render what accumulated (a partial progressive stream IS a
            # coarser image) instead of raising on the short segment.
            break
        seg = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                if pq != 0:
                    return None  # 16-bit tables: unsupported
                tab = np.zeros(64, dtype=np.int32)
                tab[ZIGZAG] = np.frombuffer(seg, np.uint8, 64, sp + 1)
                qts[tq] = tab
                sp += 65
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0xF
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                vals = list(seg[sp + 17 : sp + 17 + nv])
                _, dec = _canonical_codes(bits, vals)
                huffs[(tc, th)] = dec
                sp += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8 or nc not in (1, 3) or h == 0 or w == 0 or h * w > 64_000_000:
                return None
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            if any(c["h"] not in (1, 2) or c["v"] not in (1, 2) for c in comps):
                return None
            frame = {"h": h, "w": w, "comps": comps, "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # hierarchical/arithmetic/lossless: unsupported
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                return None
            ns = seg[0]
            if frame.get("progressive"):
                scomp = []
                for c in range(ns):
                    cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                    match = [cc for cc in frame["comps"] if cc["id"] == cs]
                    if not match:
                        return None
                    scomp.append((match[0], tt >> 4, tt & 0xF))
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                ah, al = ahal >> 4, ahal & 0xF
                if prog_coefs is None:
                    hmax = max(c["h"] for c in frame["comps"])
                    vmax = max(c["v"] for c in frame["comps"])
                    p_mcux = -(-frame["w"] // (8 * hmax))
                    p_mcuy = -(-frame["h"] // (8 * vmax))
                    prog_coefs = {
                        c["id"]: np.zeros(
                            (p_mcuy * c["v"], p_mcux * c["h"], 64), dtype=np.int32
                        )
                        for c in frame["comps"]
                    }
                segments, end = _split_entropy(payload, pos + 2 + seglen)
                try:
                    _decode_prog_scan(
                        segments, frame, scomp, ss, se, ah, al, huffs,
                        prog_coefs, p_mcux, p_mcuy, restart,
                    )
                except (ValueError, IndexError):
                    # Truncated/corrupt scan: render the scans completed
                    # so far (the format's defining property — a partial
                    # progressive stream IS a coarser image), or decline
                    # if not even the first DC scan finished.
                    if prog_done == 0:
                        return None
                    break
                prog_done += 1
                pos = end
                continue
            if ns != len(frame["comps"]):
                # Non-interleaved (one scan per component) sequential
                # file: decoding only the first scan would silently
                # return grayscale or scrambled luma. Decline so callers
                # fall to PIL/stub.
                return None
            scomp = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                match = [cc for cc in frame["comps"] if cc["id"] == cs]
                if not match:
                    return None
                scomp.append((match[0], tt >> 4, tt & 0xF))
            data_start = pos + 2 + seglen
            return _decode_scan(
                payload, data_start, frame, scomp, qts, huffs, restart
            )
        pos += 2 + seglen
    if frame is not None and frame.get("progressive") and prog_coefs is not None:
        return _reconstruct(
            frame, frame["comps"], prog_coefs, qts, frame["h"], frame["w"]
        )
    return None


def _split_entropy(payload: bytes, start: int) -> tuple[list[bytes], int]:
    """Split a scan's entropy data into restart segments, unstuffing
    FF00. Returns (segments, position of the 0xFF of the next marker)."""
    segments: list[bytes] = []
    cur = bytearray()
    pos = start
    n = len(payload)
    while pos < n:
        b = payload[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        nxt = payload[pos + 1] if pos + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= nxt <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:  # EOI or next marker
            break
    segments.append(bytes(cur))
    return segments, pos


def _decode_scan(payload, start, frame, scomp, qts, huffs, restart):
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    segments, _end = _split_entropy(payload, start)

    # Coefficient arrays per scan component (blocks in MCU raster order).
    coefs = {
        sc[0]["id"]: np.zeros(
            (mcuy * sc[0]["v"], mcux * sc[0]["h"], 64), dtype=np.int32
        )
        for sc in scomp
    }
    seg_i = 0
    reader = _BitReader(segments[0])
    preds = {sc[0]["id"]: 0 for sc in scomp}
    for mcu in range(mcux * mcuy):
        if restart and mcu and mcu % restart == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("missing restart segment")
            reader = _BitReader(segments[seg_i])
            preds = {sc[0]["id"]: 0 for sc in scomp}
        my, mx = divmod(mcu, mcux)
        for comp, td, ta in scomp:
            dc_dec = huffs.get((0, td))
            ac_dec = huffs.get((1, ta))
            if dc_dec is None or ac_dec is None:
                raise ValueError("missing Huffman table")
            for by in range(comp["v"]):
                for bx in range(comp["h"]):
                    zz = np.zeros(64, dtype=np.int32)
                    t = reader.huffman(dc_dec)
                    if t > 11:
                        raise ValueError("bad DC category")
                    diff = _extend(reader.read(t), t) if t else 0
                    preds[comp["id"]] += diff
                    zz[0] = preds[comp["id"]]
                    k = 1
                    while k < 64:
                        rs = reader.huffman(ac_dec)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC index out of range")
                        zz[k] = _extend(reader.read(s), s)
                        k += 1
                    coefs[comp["id"]][my * comp["v"] + by, mx * comp["h"] + bx] = zz

    return _reconstruct(frame, [sc[0] for sc in scomp], coefs, qts, h, w)


def _decode_prog_scan(
    segments, frame, scomp, ss, se, ah, al, huffs, coefs, mcux, mcuy, restart
):
    """One progressive scan into the persistent coefficient arrays
    (T.81 Annex G.2): DC first/refine (interleaved or single-component),
    AC first/refine (single-component, EOB runs). Restart markers reset
    DC predictors and the EOB run per segment."""
    w, h = frame["w"], frame["h"]
    is_dc = ss == 0
    if not is_dc and len(scomp) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    if is_dc and se != 0:
        raise ValueError("DC scan with Se != 0")

    # The scan's unit sequence: MCUs for interleaved scans, the
    # component's nominal block grid for single-component scans.
    if len(scomp) > 1:
        units = mcux * mcuy

        def unit_blocks(u):
            my, mx = divmod(u, mcux)
            for comp, td, _ta in scomp:
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        yield comp, td, coefs[comp["id"]][
                            my * comp["v"] + by, mx * comp["h"] + bx
                        ]
    else:
        comp0, td0, _ta0 = scomp[0]
        rows, cols = _comp_block_grid(frame, comp0, mcux, mcuy, w, h)
        units = rows * cols

        def unit_blocks(u):
            brow, bcol = divmod(u, cols)
            yield comp0, td0, coefs[comp0["id"]][brow, bcol]

    seg_i = 0
    reader = _BitReader(segments[0])
    preds = {sc[0]["id"]: 0 for sc in scomp}
    eobrun = 0
    p1, m1 = 1 << al, -1 << al
    ta = scomp[0][2]
    ac_dec = huffs.get((1, ta)) if not is_dc else None
    if not is_dc and ac_dec is None:
        raise ValueError("missing AC Huffman table")

    for u in range(units):
        if restart and u and u % restart == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("missing restart segment")
            reader = _BitReader(segments[seg_i])
            preds = {sc[0]["id"]: 0 for sc in scomp}
            eobrun = 0
        for comp, td, zz in unit_blocks(u):
            if is_dc and ah == 0:
                dc_dec = huffs.get((0, td))
                if dc_dec is None:
                    raise ValueError("missing DC Huffman table")
                t = reader.huffman(dc_dec)
                if t > 11:
                    raise ValueError("bad DC category")
                diff = _extend(reader.read(t), t) if t else 0
                preds[comp["id"]] += diff
                zz[0] = preds[comp["id"]] << al
            elif is_dc:  # DC refinement: one raw bit per block
                if reader.read(1):
                    zz[0] |= p1
            elif ah == 0:  # AC first pass
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = reader.huffman(ac_dec)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += reader.read(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC index out of band")
                    zz[k] = _extend(reader.read(s), s) << al
                    k += 1
            else:  # AC refinement (G.1.2.3)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = reader.huffman(ac_dec)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r < 15:
                                # FULL count here (unlike the first-pass
                                # branch): the post-break correction
                                # sweep below consumes one for THIS
                                # block and decrements.
                                eobrun = 1 << r
                                if r:
                                    eobrun += reader.read(r)
                                break
                            newval = 0  # ZRL: run of 16 zero-history coeffs
                        else:
                            if s != 1:
                                raise ValueError("bad refinement magnitude")
                            newval = p1 if reader.read(1) else m1
                        while k <= se:
                            v = int(zz[k])
                            if v != 0:
                                if reader.read(1) and (v & p1) == 0:
                                    zz[k] = v + (p1 if v > 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if newval and k <= se:
                            zz[k] = newval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        v = int(zz[k])
                        if v != 0 and reader.read(1) and (v & p1) == 0:
                            zz[k] = v + (p1 if v > 0 else m1)
                        k += 1
                    eobrun -= 1


def _reconstruct(frame, comps, coefs, qts, h, w):
    """Dequantize + batched IDCT + upsample + color-convert the per-
    component coefficient arrays (shared by the baseline and progressive
    paths — identical integer coefficients give bit-identical pixels)."""
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    rgb_planes = []
    for comp in comps:
        qt = qts.get(comp["tq"])
        if qt is None:
            raise ValueError("missing quant table")
        cc = coefs[comp["id"]]
        by, bx = cc.shape[0], cc.shape[1]
        blocks = np.zeros((by * bx, 64), dtype=np.float64)
        blocks[:, ZIGZAG] = cc.reshape(-1, 64) * qt[ZIGZAG]
        blocks = blocks.reshape(-1, 8, 8)
        # Batched IDCT: f = T' F T over all blocks at once.
        pix = np.einsum("ij,njk,kl->nil", _T.T, blocks, _T) + 128.0
        plane = (
            pix.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        # Upsample to full MCU-grid resolution, then crop to (h, w).
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        rgb_planes.append(plane[:h, :w])

    if len(rgb_planes) == 1:
        yp = np.clip(rgb_planes[0], 0, 255)
        return np.stack([yp, yp, yp], axis=-1).astype(np.uint8)
    y, cb, cr = rgb_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): spectral selection + successive approximation.
#
# Decoder: full T.81 Annex G.2 — DC first/refine, AC first/refine with
# EOB runs, interleaved DC scans and non-interleaved AC scans, restart
# markers (per-segment predictor/EOB-run reset). Encoder: a standard
# 10-scan script (DC Al=1 + refine; per-component AC bands with two
# successive-approximation levels for luma) with per-scan optimal
# Huffman tables (EOBn symbols are not in the Annex K tables, so
# progressive AC scans always carry their own DHT — same as every real
# encoder). The pair is validated coefficient-exactly: a progressive
# file carries the SAME quantized coefficients as the baseline file of
# the same image, so the two must decode to bit-identical pixels.
# ---------------------------------------------------------------------------


def _huffman_lengths(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """JPEG Annex K.2 code-length assignment: optimal Huffman lengths
    limited to 16 bits, with the all-ones code reserved via the
    pseudo-symbol 256. Returns (BITS[16], HUFFVAL) for a DHT segment."""
    freq = [0] * 257
    for sym, n in freqs.items():
        freq[sym] = n
    freq[256] = 1  # reserves the all-1s code
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        c1 = min(
            (i for i in range(257) if freq[i] > 0),
            key=lambda i: (freq[i], i),
            default=-1,
        )
        rest = [i for i in range(257) if freq[i] > 0 and i != c1]
        if not rest:
            break
        c2 = min(rest, key=lambda i: (freq[i], i))
        freq[c1] += freq[c2]
        freq[c2] = 0
        while True:
            codesize[c1] += 1
            if others[c1] == -1:
                break
            c1 = others[c1]
        others[c1] = c2
        while True:
            codesize[c2] += 1
            if others[c2] == -1:
                break
            c2 = others[c2]
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    # Adjust lengths > 16 (Annex K.2 figure K.3).
    i = 32
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the pseudo-symbol's slot
    huffval = sorted(
        (s for s in range(256) if codesize[s]),
        key=lambda s: (codesize[s], s),
    )
    return bits[1:17], huffval


def _mag_shift(v: int, al: int) -> int:
    """AC successive-approximation point transform: magnitude shift
    toward zero (T.81 G.1.2.1)."""
    return (v >> al) if v >= 0 else -((-v) >> al)


class _TokenStream:
    """Two-pass scan encoding: record (symbol, extra-bits) tokens, build
    the optimal table from the symbol counts, then serialize."""

    def __init__(self) -> None:
        self.tokens: list[tuple[int, int, int]] = []  # (sym or -1, value, nbits)
        self.freqs: dict[int, int] = {}

    def sym(self, s: int) -> None:
        self.tokens.append((s, 0, -1))
        self.freqs[s] = self.freqs.get(s, 0) + 1

    def bits(self, value: int, n: int) -> None:
        if n:
            self.tokens.append((-1, value, n))

    def serialize(self, w: _BitWriter, enc: dict[int, tuple[int, int]]) -> None:
        for s, value, n in self.tokens:
            if n < 0:
                code, length = enc[s]
                w.write(code, length)
            else:
                w.write(value, n)


def _comp_block_grid(frame, comp, mcux, mcuy, w, h):
    """Nominal (non-interleaved) block grid of a component vs its padded
    MCU-grid allocation."""
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    cw = -(-w * comp["h"] // hmax)
    ch = -(-h * comp["v"] // vmax)
    return -(-ch // 8), -(-cw // 8)  # (rows, cols)


def _encode_dc_scan(coefs, comps, mcux, mcuy, al, refine, dc_encs):
    """Interleaved DC scan over the MCU grid. First pass (refine=False)
    Huffman-codes diffs of (DC >> al); refinement emits one raw bit per
    block. Returns (tokens, uses_huffman)."""
    ts = _TokenStream()
    preds = {c["id"]: 0 for c in comps}
    for mcu in range(mcux * mcuy):
        my, mx = divmod(mcu, mcux)
        for comp in comps:
            cc = coefs[comp["id"]]
            for by in range(comp["v"]):
                for bx in range(comp["h"]):
                    dc = int(cc[my * comp["v"] + by, mx * comp["h"] + bx, 0])
                    if refine:
                        ts.bits((dc >> al) & 1, 1)
                        continue
                    v = dc >> al  # arithmetic shift (T.81 G.1.2.1 for DC)
                    diff = v - preds[comp["id"]]
                    preds[comp["id"]] = v
                    t = _category(diff)
                    ts.sym(t)
                    if t:
                        ts.bits(diff if diff > 0 else diff + (1 << t) - 1, t)
    return ts


def _encode_ac_first(coefs, frame, comp, mcux, mcuy, w, h, ss, se, al):
    """Non-interleaved AC first pass with EOB-run accumulation."""
    ts = _TokenStream()
    rows, cols = _comp_block_grid(frame, comp, mcux, mcuy, w, h)
    cc = coefs[comp["id"]]
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            ts.sym(r << 4)
            ts.bits(eobrun - (1 << r), r)
            eobrun = 0

    for brow in range(rows):
        for bcol in range(cols):
            zz = cc[brow, bcol]
            band = [(_mag_shift(int(zz[k]), al), k) for k in range(ss, se + 1)]
            run = 0
            wrote = False
            for v, _k in band:
                if v == 0:
                    run += 1
                    continue
                flush_eob()
                while run > 15:
                    ts.sym(0xF0)
                    run -= 16
                s = _category(v)
                ts.sym((run << 4) | s)
                ts.bits(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
                wrote = True
            if run or not wrote:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
    flush_eob()
    return ts


def _encode_ac_refine(coefs, frame, comp, mcux, mcuy, w, h, ss, se, al):
    """Non-interleaved AC refinement (T.81 G.1.2.3): newly-significant
    coefficients as (run, s=1) symbols, correction bits for history
    coefficients inline with runs, buffered across EOB runs."""
    ts = _TokenStream()
    rows, cols = _comp_block_grid(frame, comp, mcux, mcuy, w, h)
    cc = coefs[comp["id"]]
    eobrun = 0
    bebits: list[int] = []  # correction bits pending behind an EOB run

    def flush_eob():
        nonlocal eobrun, bebits
        if eobrun:
            r = eobrun.bit_length() - 1
            ts.sym(r << 4)
            ts.bits(eobrun - (1 << r), r)
            for b in bebits:
                ts.bits(b, 1)
            eobrun = 0
            bebits = []

    for brow in range(rows):
        for bcol in range(cols):
            zz = cc[brow, bcol]
            mags = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
            # Last newly-significant index: runs beyond it are absorbed
            # into the EOB run, never emitted as ZRL.
            eob_idx = -1
            for i, m in enumerate(mags):
                if m == 1:
                    eob_idx = i
            run = 0
            pend: list[int] = []  # correction bits since the last symbol
            for i, m in enumerate(mags):
                if m == 0:
                    run += 1
                    continue
                while run > 15 and i <= eob_idx:
                    flush_eob()
                    ts.sym(0xF0)
                    for b in pend:
                        ts.bits(b, 1)
                    pend = []
                    run -= 16
                if m > 1:  # already significant: buffer its correction bit
                    pend.append(m & 1)
                    continue
                # newly significant (|coef| >> al == 1)
                flush_eob()
                ts.sym((run << 4) | 1)
                ts.bits(1 if int(zz[ss + i]) > 0 else 0, 1)
                for b in pend:
                    ts.bits(b, 1)
                pend = []
                run = 0
            if run > 0 or pend:
                eobrun += 1
                bebits.extend(pend)
                if eobrun == 0x7FFF:
                    flush_eob()
    flush_eob()
    return ts


def encode_jpeg_progressive(rgb: np.ndarray, *, subsampling: str = "444") -> bytes:
    """Progressive JFIF bytes carrying the SAME quantized coefficients
    as ``encode_jpeg`` of the same image — decode of both is therefore
    bit-identical, which is what the round-trip tests assert."""
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    h, w = rgb.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ycc = rgb_to_jfif_ycbcr(rgb)
    y = ycc[..., 0]
    if subsampling == "420":
        ph, pw = -h % 2, -w % 2
        cpad = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
        cb = cpad[0::2, 0::2, 1] / 4 + cpad[0::2, 1::2, 1] / 4 + cpad[1::2, 0::2, 1] / 4 + cpad[1::2, 1::2, 1] / 4
        cr = cpad[0::2, 0::2, 2] / 4 + cpad[0::2, 1::2, 2] / 4 + cpad[1::2, 0::2, 2] / 4 + cpad[1::2, 1::2, 2] / 4
        hy, vy = 2, 2
    else:
        cb, cr = ycc[..., 1], ycc[..., 2]
        hy, vy = 1, 1

    mcu_w, mcu_h = 8 * hy, 8 * vy
    mcux = -(-w // mcu_w)
    mcuy = -(-h // mcu_h)
    comps = [
        {"id": 1, "h": hy, "v": vy, "tq": 0},
        {"id": 2, "h": 1, "v": 1, "tq": 1},
        {"id": 3, "h": 1, "v": 1, "tq": 1},
    ]
    frame = {"h": h, "w": w, "comps": comps}
    planes = {
        1: np.pad(y.astype(np.float64) - 128.0,
                  ((0, mcuy * mcu_h - h), (0, mcux * mcu_w - w)), mode="edge"),
        2: np.pad(cb.astype(np.float64) - 128.0,
                  ((0, mcuy * 8 - cb.shape[0]), (0, mcux * 8 - cb.shape[1])), mode="edge"),
        3: np.pad(cr.astype(np.float64) - 128.0,
                  ((0, mcuy * 8 - cr.shape[0]), (0, mcux * 8 - cr.shape[1])), mode="edge"),
    }
    qts = {1: QT_LUM, 2: QT_CHROM, 3: QT_CHROM}
    coefs = {}
    for comp in comps:
        plane = planes[comp["id"]]
        rows, cols = plane.shape[0] // 8, plane.shape[1] // 8
        cc = np.zeros((rows, cols, 64), dtype=np.int32)
        for brow in range(rows):
            for bcol in range(cols):
                block = plane[brow * 8 : brow * 8 + 8, bcol * 8 : bcol * 8 + 8]
                coeff = _T @ block @ _T.T
                q = np.round(coeff.reshape(64) / qts[comp["id"]].astype(np.float64)).astype(np.int64)
                cc[brow, bcol] = q[ZIGZAG]
        coefs[comp["id"]] = cc

    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, qt in ((0, QT_LUM), (1, QT_CHROM)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(int(v) for v in qt[ZIGZAG])
    out += b"\xff\xc2" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += bytes([1, (hy << 4) | vy, 0, 2, 0x11, 1, 3, 0x11, 1])
    def emit_scan(scomps, ss, se, ah, al, ts, enc_tables=None):
        """DHT (for Huffman scans) + SOS header + serialized tokens."""
        if ts.freqs:
            bits, vals = _huffman_lengths(ts.freqs)
            out.extend(b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), (1 << 4) | 2))
            out.extend(bytes(bits) + bytes(vals))
            enc, _ = _canonical_codes(bits, vals)
        else:
            enc = enc_tables
        out.extend(b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(scomps), len(scomps)))
        for cid, td, ta in scomps:
            out.extend(bytes([cid, (td << 4) | ta]))
        out.extend(bytes([ss, se, (ah << 4) | al]))
        bw = _BitWriter()
        ts.serialize(bw, enc)
        bw.pad()
        out.extend(bw.out)

    # DC first (all components, Al=1): the token stream interleaves all
    # three components, so one optimal DC table serves them — built from
    # the scan's own symbol frequencies, carried in DC slot (0,0), and
    # referenced (td=0) by every component.
    dc_ts = _encode_dc_scan(coefs, comps, mcux, mcuy, 1, False, None)
    bits, vals = _huffman_lengths(dc_ts.freqs)
    out.extend(b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), (0 << 4) | 0))
    out.extend(bytes(bits) + bytes(vals))
    enc, _ = _canonical_codes(bits, vals)
    out.extend(b"\xff\xda" + struct.pack(">HB", 12, 3))
    out.extend(bytes([1, 0x00, 2, 0x00, 3, 0x00, 0, 0, (0 << 4) | 1]))
    bw = _BitWriter()
    dc_ts.serialize(bw, enc)
    bw.pad()
    out.extend(bw.out)

    # AC bands, first passes (Y gets two successive-approximation
    # levels: Al=2 here, refined 2->1 then 1->0 below).
    for cid, ss, se, al in ((1, 1, 5, 2), (3, 1, 63, 1), (2, 1, 63, 1), (1, 6, 63, 2)):
        comp = comps[cid - 1]
        ts = _encode_ac_first(coefs, frame, comp, mcux, mcuy, w, h, ss, se, al)
        emit_scan([(cid, 0, 2)], ss, se, 0, al, ts)

    # Y AC refinement 2 -> 1 (both bands at once).
    ts = _encode_ac_refine(coefs, frame, comps[0], mcux, mcuy, w, h, 1, 63, 1)
    emit_scan([(1, 0, 2)], 1, 63, 2, 1, ts)

    # DC refinement (Ah=1, Al=0): raw bits, no Huffman table read.
    dc_ref = _encode_dc_scan(coefs, comps, mcux, mcuy, 0, True, None)
    out.extend(b"\xff\xda" + struct.pack(">HB", 12, 3))
    out.extend(bytes([1, 0x00, 2, 0x00, 3, 0x00, 0, 0, (1 << 4) | 0]))
    bw = _BitWriter()
    dc_ref.serialize(bw, {})
    bw.pad()
    out.extend(bw.out)

    # AC refinements to full precision.
    for cid, al_from, al in ((3, 1, 0), (2, 1, 0), (1, 1, 0)):
        comp = comps[cid - 1]
        ts = _encode_ac_refine(coefs, frame, comp, mcux, mcuy, w, h, 1, 63, al)
        emit_scan([(cid, 0, 2)], 1, 63, al_from, al, ts)

    out += b"\xff\xd9"
    return bytes(out)
