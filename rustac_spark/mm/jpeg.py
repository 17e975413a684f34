"""From-scratch baseline JPEG decoder (pure numpy, no external libs).

Decoder: SOI/APPn/DQT/DHT/SOF0/DRI/SOS marker parse, byte-unstuffed
MSB-first bit reader, canonical Huffman decode (DC category + diff,
AC run/size with ZRL/EOB), dequantize → de-zigzag → 8×8 IDCT-II →
level shift, 4:4:4 and 4:2:0/4:2:2 chroma upsampling (nearest),
BT.601 YCbCr→RGB, restart-interval support. Progressive (SOF2) and
arithmetic coding are out of scope and raise.

Verification strategy (tests/test_mm_jpeg.py): fixtures come from the
test encoder in tests/jpeg_encoder.py; the IDCT is checked against an
independent explicit-cosine-sum DCT oracle, the zigzag table against
an independently generated one, and solid-color images against
hand-computed DC-only closed forms — so an encoder/decoder bug pair
cannot silently cancel.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8×8 DCT-II basis matrix C: dct = C @ x @ C.T."""
    u = np.arange(8)
    c = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16.0)
    m = c * np.sqrt(2.0 / 8.0)
    m[0, :] = np.sqrt(1.0 / 8.0)
    return m


_C = _dct_matrix()


def idct2(block: np.ndarray) -> np.ndarray:
    return _C.T @ block @ _C


# ---------------------------------------------------------------- huffman

class _HuffTable:
    """Canonical Huffman: (length, code) → symbol."""

    def __init__(self, bits: list[int], values: list[int]):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                sym = values[k]
                self.lookup[(ln, code)] = sym
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first reader over byte-unstuffed entropy data."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy data exhausted")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode(self, table: _HuffTable) -> int:
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | self.read_bit()
            ln += 1
            sym = table.lookup.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def byte_align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


def _extend(v: int, size: int) -> int:
    """JPEG F.2.2.1 EXTEND: map `size`-bit magnitude to signed."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ---------------------------------------------------------------- decoder

def jpeg_decode(data: bytes) -> np.ndarray:
    """Baseline JFIF/JPEG → (h, w, 3) uint8 RGB."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], _HuffTable] = {}  # (class, id)
    frame = None
    restart_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:          # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq == 0:
                    qtabs[tq] = np.frombuffer(seg, np.uint8, 64,
                                              p).astype(np.int64)
                    p += 64
                else:
                    qtabs[tq] = np.frombuffer(
                        seg[p:p + 128], ">u2").astype(np.int64)
                    p += 128
        elif marker == 0xC4:        # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1:p + 17])
                n = sum(bits)
                values = list(seg[p + 17:p + 17 + n])
                htabs[(tc, th)] = _HuffTable(bits, values)
                p += 17 + n
        elif marker == 0xC0:        # SOF0 baseline
            prec, h, w, nc = seg[0], *struct.unpack_from(">HH", seg, 1), \
                seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0x{marker:02x})")
        elif marker == 0xDD:        # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:        # SOS — entropy data follows
            ns = seg[0]
            sel = {}
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                sel[cs] = (tt >> 4, tt & 15)
            # collect entropy bytes, un-stuffing 0xFF00 and stripping
            # RST markers
            body = bytearray()
            rst_positions = []
            p = pos
            while p < len(data) - 1:
                b = data[p]
                if b == 0xFF:
                    nxt = data[p + 1]
                    if nxt == 0x00:
                        body.append(0xFF)
                        p += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:
                        rst_positions.append(len(body))
                        p += 2
                        continue
                    break  # EOI or next marker
                body.append(b)
                p += 1
            return _decode_scan(frame, qtabs, htabs, sel, bytes(body),
                                restart_interval)
        # APPn/COM and others: skipped
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(frame, qtabs, htabs, sel, body: bytes,
                 restart_interval: int) -> np.ndarray:
    if frame is None:
        raise ValueError("SOS before SOF0")
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comps:
        planes.append(np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]),
                               dtype=np.float64))
    rd = _BitReader(body)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                rd.byte_align()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t = htabs[(0, sel[c["id"]][0])]
                ac_t = htabs[(1, sel[c["id"]][1])]
                q = qtabs[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        size = rd.decode(dc_t)
                        diff = _extend(rd.read_bits(size), size)
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = rd.decode(ac_t)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:   # ZRL: 16 zeros
                                    k += 16
                                    continue
                                break         # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(rd.read_bits(s), s)
                            k += 1
                        blk = np.zeros(64, dtype=np.float64)
                        blk[ZIGZAG] = (zz * q).astype(np.float64)
                        px = idct2(blk.reshape(8, 8)) + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = px
            mcu_count += 1
    # upsample each plane to full MCU-aligned resolution, crop, stack
    full = []
    for c, pl in zip(comps, planes):
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            pl = np.repeat(np.repeat(pl, ry, axis=0), rx, axis=1)
        full.append(pl[:h, :w])
    if len(comps) == 1:
        ycc = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.repeat(ycc[:, :, None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=2) + 0.5,
                   0, 255).astype(np.uint8)
