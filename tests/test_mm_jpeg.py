"""Baseline JPEG codec: independent-oracle verification.

An encoder/decoder bug pair must not cancel, so the pieces are pinned
separately: the DCT basis against an explicit cosine-sum oracle, the
zigzag table against an independently generated walk, DC-only images
against hand-computed closed forms, and only THEN lossy roundtrips."""

import numpy as np
import pytest

from jpeg_encoder import STD_LUMA_Q, _scaled_q, dct2, jpeg_encode
from rustac_spark.mm.jpeg import ZIGZAG, idct2, jpeg_decode


def test_dct_against_cosine_sum_oracle():
    rng = np.random.default_rng(11)
    x = rng.uniform(-128, 127, (8, 8))
    # explicit DCT-II (JPEG A.3.3) with alpha normalization
    ref = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            au = np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8)
            av = np.sqrt(1 / 8) if v == 0 else np.sqrt(2 / 8)
            s = 0.0
            for i in range(8):
                for j in range(8):
                    s += (x[i, j]
                          * np.cos((2 * i + 1) * u * np.pi / 16)
                          * np.cos((2 * j + 1) * v * np.pi / 16))
            ref[u, v] = au * av * s
    assert np.allclose(dct2(x), ref, atol=1e-9)
    assert np.allclose(idct2(ref), x, atol=1e-9)


def test_zigzag_against_independent_walk():
    # generate the zigzag order by the diagonal-walk rule, independent
    # of the hardcoded table
    order, (r, c), up = [], (0, 0), True
    for _ in range(64):
        order.append(r * 8 + c)
        if up:
            if c == 7:
                r, up = r + 1, False
            elif r == 0:
                c, up = c + 1, False
            else:
                r, c = r - 1, c + 1
        else:
            if r == 7:
                c, up = c + 1, True
            elif c == 0:
                r, up = r + 1, True
            else:
                r, c = r + 1, c - 1
    assert ZIGZAG.tolist() == order


def test_dc_only_closed_form():
    """Solid-color 8×8: the only nonzero coefficient is DC = 8·(v-128)
    (orthonormal DCT); with quantizer q00 the decoded value is
    128 + round(8(v-128)/q00)·q00/8 — computable by hand."""
    v = 200
    q00 = int(_scaled_q(STD_LUMA_Q, 90)[0])  # natural[0] == zigzag[0]
    dc = 8.0 * (v - 128.0)
    expect = 128.0 + round(dc / q00) * q00 / 8.0
    img = np.full((8, 8, 3), v, dtype=np.uint8)
    got = jpeg_decode(jpeg_encode(img, quality=90))
    # gray input → y == v, cb == cr == 128 (chroma contributes 0)
    assert got.shape == (8, 8, 3)
    assert np.all(np.abs(got.astype(float) - expect) <= 1.0)


def test_roundtrip_tolerance_smooth_and_random():
    rng = np.random.default_rng(5)
    # smooth gradient: high quality should be within a few levels
    yy, xx = np.mgrid[0:32, 0:24]
    smooth = np.stack([(yy * 3) % 256, (xx * 5) % 256,
                       ((yy + xx) * 2) % 256], axis=2).astype(np.uint8)
    got = jpeg_decode(jpeg_encode(smooth, quality=95))
    assert got.shape == smooth.shape
    err = np.abs(got.astype(int) - smooth.astype(int))
    assert err.mean() < 6 and err.max() <= 40
    # hard random noise: still decodes, bounded error at q=95
    noisy = rng.integers(0, 256, (17, 13, 3), dtype=np.uint8)
    got2 = jpeg_decode(jpeg_encode(noisy, quality=95))
    assert got2.shape == noisy.shape
    assert np.abs(got2.astype(int) - noisy.astype(int)).mean() < 24


def test_non_multiple_of_8_and_edge_padding():
    img = np.zeros((9, 10, 3), dtype=np.uint8)
    img[:, :5] = (250, 10, 10)
    got = jpeg_decode(jpeg_encode(img, quality=90))
    assert got.shape == (9, 10, 3)
    # left half clearly red-ish, right half dark
    assert got[:, :3, 0].mean() > 180 and got[:, 7:, 0].mean() < 80


def test_decode_dispatch_and_progressive_raises():
    from rustac_spark.mm.codecs import decode_image

    img = np.full((8, 8, 3), 99, dtype=np.uint8)
    data = jpeg_encode(img)
    assert data[:3] == b"\xff\xd8\xff"
    out = decode_image(data)
    assert out.shape == (8, 8, 3)
    # flip SOF0 (0xC0) to SOF2 (0xC2): progressive must raise
    prog = bytearray(data)
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        jpeg_decode(bytes(prog))


def test_420_subsampling_roundtrip():
    """4:2:0 (16×16 MCUs, 4 luma blocks + chroma downsample) exercises
    the decoder's multi-block MCU assembly and 2× upsampling."""
    yy, xx = np.mgrid[0:33, 0:21]
    img = np.stack([(yy * 4) % 256, 128 + 0 * xx,
                    (xx * 6) % 256], axis=2).astype(np.uint8)
    got = jpeg_decode(jpeg_encode(img, quality=92, subsampling="420"))
    assert got.shape == img.shape
    err = np.abs(got.astype(int) - img.astype(int))
    # luma-driven channels stay close; chroma smoothing bounded
    assert err.mean() < 10 and err.max() <= 64

    # solid color must survive 4:2:0 nearly exactly (flat chroma)
    solid = np.full((20, 12, 3), (60, 180, 30), dtype=np.uint8)
    got2 = jpeg_decode(jpeg_encode(solid, quality=90,
                                   subsampling="420"))
    assert np.abs(got2.astype(int) - solid.astype(int)).max() <= 4


def test_restart_interval_decode():
    """DRI/RSTn handling: inject a restart interval by re-encoding the
    entropy stream in two chunks separated by RST0 with a DRI marker."""
    import struct as _s

    img = np.zeros((8, 24, 3), dtype=np.uint8)  # 3 MCUs at 4:4:4
    img[:, :8] = 200
    img[:, 8:16] = 100
    data = jpeg_encode(img, quality=90)
    base = jpeg_decode(data)

    # build the same scan with DRI=1: re-encode each MCU separately
    # and join with RST markers, resetting DC predictors
    from jpeg_encoder import (
        STD_AC_CHROMA, STD_AC_LUMA, STD_CHROMA_Q, STD_DC_CHROMA,
        STD_DC_LUMA, _BitWriter, _encode_block, huff_codes,
    )
    ql = _scaled_q(STD_LUMA_Q, 90)[ZIGZAG]
    qc = _scaled_q(STD_CHROMA_Q, 90)[ZIGZAG]
    dc_l, ac_l = huff_codes(*STD_DC_LUMA), huff_codes(*STD_AC_LUMA)
    dc_c, ac_c = huff_codes(*STD_DC_CHROMA), huff_codes(*STD_AC_CHROMA)
    pieces = []
    arr = img.astype(np.float64)
    r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    for mx in range(3):
        w = _BitWriter()
        sl = slice(mx * 8, mx * 8 + 8)
        _encode_block(w, y[:, sl], ql, dc_l, ac_l, 0)
        _encode_block(w, cb[:, sl], qc, dc_c, ac_c, 0)
        _encode_block(w, cr[:, sl], qc, dc_c, ac_c, 0)
        pieces.append(w.flush())
    entropy = (pieces[0] + b"\xff\xd0" + pieces[1] + b"\xff\xd1"
               + pieces[2])
    # splice: headers from the normal encode (up to and incl. SOS
    # payload), new entropy, EOI; insert a DRI segment before SOS
    sos_at = data.find(b"\xff\xda")
    (sos_len,) = _s.unpack_from(">H", data, sos_at + 2)
    head = data[:sos_at]
    sos = data[sos_at:sos_at + 2 + sos_len]
    dri = b"\xff\xdd" + _s.pack(">HH", 4, 1)
    new = head + dri + sos + entropy + b"\xff\xd9"
    got = jpeg_decode(new)
    assert np.array_equal(got, base)
