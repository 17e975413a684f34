"""Baseline JPEG encoder: builds the fixtures that pin the decoder in
``rustac_spark/mm/jpeg.py``.

Baseline 4:4:4 or 4:2:0 with the Annex-K example quantization and
Huffman tables, scaled by a quality factor. It shares only the zigzag
table and the DCT basis with the decoder; tests/test_mm_jpeg.py pins
both against independent oracles, so an encoder/decoder bug pair
cannot silently cancel.
"""

import struct

import numpy as np

from rustac_spark.mm.jpeg import ZIGZAG, _C

# JPEG Annex K example tables (the de-facto standard set)
STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
STD_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# (bits[1..16], values) — Annex K typical Huffman tables
STD_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
               list(range(12)))
STD_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                 list(range(12)))
STD_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
STD_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def dct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def huff_codes(bits: list[int], values: list[int]) -> dict:
    """Canonical Huffman code of each symbol: symbol → (code, length)."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, ln: int) -> None:
        for i in range(ln - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _scaled_q(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255)


def _encode_block(wtr, blk, q, dc_t, ac_t, pred):
    coef = dct2(blk - 128.0)
    zz = np.round(coef.reshape(64)[ZIGZAG] / q).astype(np.int64)
    diff = int(zz[0]) - pred
    size = int(abs(diff)).bit_length()
    code, ln = dc_t[size]
    wtr.write(code, ln)
    if size:
        wtr.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = max(np.nonzero(zz)[0]) if np.any(zz) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            if k > last_nz:
                break
            run += 1
            if run == 16:
                c, l = ac_t[0xF0]   # ZRL
                wtr.write(c, l)
                run = 0
            continue
        s = int(abs(v)).bit_length()
        c, l = ac_t[(run << 4) | s]
        wtr.write(c, l)
        wtr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        c, l = ac_t[0x00]          # EOB
        wtr.write(c, l)
    return int(zz[0])


def jpeg_encode(arr: np.ndarray, quality: int = 90,
                subsampling: str = "444") -> bytes:
    """(h, w, 3) uint8 RGB → baseline JPEG (Annex-K tables).
    subsampling: "444" (no chroma downsample) or "420" (2×2 box —
    what most real-world JPEGs use; 16×16-luma MCUs)."""
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    arr = np.asarray(arr, dtype=np.float64)
    h, w, _ = arr.shape
    r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    # zigzag-ordered quant tables: DQT stores them in zigzag order,
    # and _encode_block divides zigzag-ordered coefficients — one
    # representation end-to-end (the decoder interprets DQT the same
    # spec-correct way)
    ql = _scaled_q(STD_LUMA_Q, quality)[ZIGZAG]
    qc = _scaled_q(STD_CHROMA_Q, quality)[ZIGZAG]
    dc_l, ac_l = huff_codes(*STD_DC_LUMA), huff_codes(*STD_AC_LUMA)
    dc_c, ac_c = huff_codes(*STD_DC_CHROMA), huff_codes(*STD_AC_CHROMA)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2) + payload

    luma_hv = 0x11 if subsampling == "444" else 0x22
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(ql.tolist()))
    out += seg(0xDB, bytes([1]) + bytes(qc.tolist()))
    out += seg(0xC0, struct.pack(">BHHB", 8, h, w, 3)
               + bytes([1, luma_hv, 0, 2, 0x11, 1, 3, 0x11, 1]))
    for (tc, th), (bits, values) in ((((0, 0)), STD_DC_LUMA),
                                     (((1, 0)), STD_AC_LUMA),
                                     (((0, 1)), STD_DC_CHROMA),
                                     (((1, 1)), STD_AC_CHROMA)):
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits)
                   + bytes(values))
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))

    wtr = _BitWriter()
    mb = 8 if subsampling == "444" else 16  # luma pixels per MCU side
    mcux, mcuy = (w + mb - 1) // mb, (h + mb - 1) // mb

    def pad(p, ph, pw):
        return np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                      mode="edge")

    y = pad(y, mcuy * mb, mcux * mb)
    if subsampling == "420":
        # 2×2 box-average chroma, padded to even dims first
        cbp = pad(cb, (h + 1) // 2 * 2, (w + 1) // 2 * 2)
        crp = pad(cr, (h + 1) // 2 * 2, (w + 1) // 2 * 2)
        cb = (cbp[0::2, 0::2] + cbp[1::2, 0::2]
              + cbp[0::2, 1::2] + cbp[1::2, 1::2]) / 4.0
        cr = (crp[0::2, 0::2] + crp[1::2, 0::2]
              + crp[0::2, 1::2] + crp[1::2, 1::2]) / 4.0
    cb = pad(cb, mcuy * 8, mcux * 8)
    cr = pad(cr, mcuy * 8, mcux * 8)
    nb = 1 if subsampling == "444" else 2  # luma blocks per MCU side
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for by in range(nb):
                for bx in range(nb):
                    y0 = (my * nb + by) * 8
                    x0 = (mx * nb + bx) * 8
                    preds[0] = _encode_block(
                        wtr, y[y0:y0 + 8, x0:x0 + 8], ql, dc_l, ac_l,
                        preds[0])
            for ci, pl in ((1, cb), (2, cr)):
                blk = pl[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
                preds[ci] = _encode_block(wtr, blk, qc, dc_c, ac_c,
                                          preds[ci])
    out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)
