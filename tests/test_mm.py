"""Multimodal plumbing: sniff and the real image/audio decode kernels."""

import numpy as np
import pytest

from rustac_spark.mm.binary_ops import (
    extract_image_features, with_binary_meta,
)
from rustac_spark.mm.codecs import (
    bmp_decode, bmp_encode, decode_image, image_features, ppm_decode,
    ppm_encode,
)


def test_binary_meta_sniff(spark):
    rows = [("a", bytearray(b"<html><body>x</body></html>")),
            ("b", bytearray(b"\x89PNG\r\n" + b"\x00" * 16)),
            ("c", bytearray(b"\xff\xd8\xff" + b"\x00" * 16)),
            ("d", bytearray(b"garbage"))]
    df = spark.createDataFrame(rows, ["url", "html"])
    out = {r["url"]: (r["content_type"], r["n_bytes"])
           for r in with_binary_meta(df).collect()}
    assert out["a"][0] == "text/html"
    assert out["b"][0] == "image/png"
    assert out["c"][0] == "image/jpeg"
    assert out["d"][0] == "application/octet-stream"
    assert out["d"][1] == 7


def _checker(h, w):
    arr = np.zeros((h, w, 3), dtype=np.uint8)
    arr[::2, ::2] = [250, 10, 30]
    arr[1::2, 1::2] = [0, 200, 90]
    return arr


def test_codec_roundtrips():
    arr = _checker(7, 5)
    assert np.array_equal(ppm_decode(ppm_encode(arr)), arr)
    assert np.array_equal(bmp_decode(bmp_encode(arr)), arr)
    # PPM header with comments parses
    withc = b"P6\n# a comment\n5 7\n255\n" + arr.tobytes()
    assert np.array_equal(ppm_decode(withc), arr)
    # magic dispatch
    assert np.array_equal(decode_image(bmp_encode(arr)), arr)
    feats = image_features(arr)
    assert len(feats) == 4 and all(0.0 <= f <= 1.0 for f in feats)


def test_decode_resize_framesample_plumbing(spark):
    from rustac_spark.mm.codecs import png_encode
    ppm = ppm_encode(_checker(6, 4))
    bmp = bmp_encode(np.full((3, 5, 3), 100, dtype=np.uint8))
    png = png_encode(np.full((7, 2, 3), 40, dtype=np.uint8))
    rows = [("ppm", bytearray(ppm)), ("bmp", bytearray(bmp)),
            ("png", bytearray(png)),
            ("jpg", bytearray(b"\xff\xd8\xff" + bytes(range(64)))),
            ("vid", bytearray(b"RIFF" + bytes(range(200)))),
            ("bad", bytearray(b"nope"))]
    df = spark.createDataFrame(rows, ["url", "payload"])

    feats = {r["url"]: r for r in extract_image_features(df).collect()}
    assert (feats["ppm"]["width"], feats["ppm"]["height"]) == (4, 6)
    assert (feats["bmp"]["width"], feats["bmp"]["height"]) == (5, 3)
    assert abs(feats["bmp"]["features"][3] - 100 / 255) < 1e-6
    assert (feats["png"]["width"], feats["png"]["height"]) == (2, 7)
    assert abs(feats["png"]["features"][3] - 40 / 255) < 1e-6
    assert feats["jpg"]["width"] is None  # corrupt JPEG: dead-letter row
    assert feats["vid"]["width"] is None  # a RIFF payload is no image
    assert feats["bad"]["width"] is None  # graceful non-image handling


def _png_filter_forward(arr, ftype):
    """Independent forward-filter oracle (PNG spec §6) to exercise the
    decoder's unfilter paths with every filter type."""
    h, w, c = arr.shape
    stride = w * c
    flat = arr.reshape(h, stride).astype(np.int32)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        row = flat[y]
        left = np.concatenate([np.zeros(c, np.int32), row[:-c]])
        uleft = np.concatenate([np.zeros(c, np.int32), prev[:-c]])
        if ftype == 0:
            f = row
        elif ftype == 1:
            f = row - left
        elif ftype == 2:
            f = row - prev
        elif ftype == 3:
            f = row - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - uleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - uleft))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, uleft))
            f = row - pred
        out += bytes([ftype]) + bytes((f & 0xFF).astype(np.uint8))
        prev = row
    return bytes(out)


def test_png_roundtrip_and_all_filters():
    import struct
    import zlib

    from rustac_spark.mm.codecs import (
        PNG_SIG, _png_chunk, png_decode, png_encode,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, (9, 5, 3), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(arr)), arr)

    # every filter type decodes back to the original pixels
    for ftype in range(5):
        raw = _png_filter_forward(arr, ftype)
        ihdr = struct.pack(">IIBBBBB", 5, 9, 8, 2, 0, 0, 0)
        data = (PNG_SIG + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(raw))
                + _png_chunk(b"IEND", b""))
        assert np.array_equal(png_decode(data), arr), f"filter {ftype}"


def test_png_color_types():
    import struct
    import zlib

    from rustac_spark.mm.codecs import PNG_SIG, _png_chunk, png_decode

    def make(ctype, w, h, px_bytes, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        raw = b"".join(b"\x00" + px_bytes[y * w * ch:(y + 1) * w * ch]
                       for ch in [ {0:1,2:3,3:1,4:2,6:4}[ctype] ]
                       for y in range(h))
        return (PNG_SIG + _png_chunk(b"IHDR", ihdr) + extra
                + _png_chunk(b"IDAT", zlib.compress(raw))
                + _png_chunk(b"IEND", b""))

    # grayscale replicates to RGB
    g = make(0, 2, 2, bytes([10, 20, 30, 40]))
    assert np.array_equal(png_decode(g)[:, :, 0],
                          np.array([[10, 20], [30, 40]], np.uint8))
    assert np.array_equal(png_decode(g)[:, :, 0], png_decode(g)[:, :, 2])
    # RGBA drops alpha
    rgba = make(6, 1, 1, bytes([1, 2, 3, 200]))
    assert png_decode(rgba).tolist() == [[[1, 2, 3]]]
    # gray+alpha
    ga = make(4, 1, 1, bytes([77, 128]))
    assert png_decode(ga).tolist() == [[[77, 77, 77]]]
    # palette
    plte = _png_chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0]))
    pal = make(3, 2, 1, bytes([1, 0]), extra=plte)
    assert png_decode(pal).tolist() == [[[0, 255, 0], [255, 0, 0]]]
    # interlaced raises honestly
    import pytest as _pytest
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1)
    bad = (PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x03"))
           + _png_chunk(b"IEND", b""))
    with _pytest.raises(NotImplementedError):
        png_decode(bad)


def test_wav_roundtrip_and_features(spark):
    from rustac_spark.mm.binary_ops import extract_audio_features
    from rustac_spark.mm.codecs import (audio_features, wav_decode,
                                        wav_encode)

    # 1 kHz square-ish wave at 16 kHz, 0.5 s, stereo
    t = np.arange(8000)
    mono = (np.where((t // 8) % 2 == 0, 12000, -12000)).astype(np.int16)
    stereo = np.stack([mono, mono // 2], axis=1)
    data = wav_encode(stereo, 16_000)
    s, rate = wav_decode(data)
    assert rate == 16_000 and np.array_equal(s, stereo)
    dur, rms, peak, zcr = audio_features(s, rate)
    assert abs(dur - 0.5) < 1e-9
    assert 0 < rms <= peak <= 1.0
    assert abs(zcr - 1 / 8) < 0.01  # sign flips every 8 samples

    # 8-bit mono path + chunk-walk robustness (extra chunk before fmt)
    pcm8 = wav_encode(mono[:100], 8_000)
    s8, r8 = wav_decode(pcm8)
    assert r8 == 8_000 and s8.shape == (100, 1)

    rows = [("wav", bytearray(data)), ("bad", bytearray(b"RIFFxxxx"))]
    df = spark.createDataFrame(rows, ["url", "payload"])
    got = {r["url"]: r for r in extract_audio_features(df).collect()}
    assert got["wav"]["n_samples"] == 8000
    assert got["wav"]["n_channels"] == 2
    assert abs(got["wav"]["duration_s"] - 0.5) < 1e-9
    assert got["bad"]["n_samples"] is None


def _gif_lzw_encode(pix, min_code):
    """Independent LZW encoder oracle; bit widths packed by simulating
    the decoder's table-growth rule, so the two stay in lockstep."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    codes = [clear]
    table = {bytes([i]): i for i in range(clear)}
    nxt = end + 1
    w = b""
    for ch in bytes(pix):
        wp = w + bytes([ch])
        if wp in table:
            w = wp
            continue
        codes.append(table[w])
        if nxt < 4096:
            table[wp] = nxt
            nxt += 1
        w = bytes([ch])
    if w:
        codes.append(table[w])
    codes.append(end)
    out, acc, nbits = bytearray(), 0, 0
    code_size, dec_len, first = min_code + 1, clear + 2, True
    for c in codes:
        acc |= c << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if c == clear:
            code_size, dec_len, first = min_code + 1, clear + 2, True
        elif c != end:
            if first:
                first = False
            else:
                dec_len += 1
                if dec_len == (1 << code_size) and code_size < 12:
                    code_size += 1
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_bytes(idx, palette, interlace=False):
    import struct

    h, w = idx.shape
    bits = max(1, (len(palette) - 1).bit_length())
    size_field = bits - 1
    table_n = 2 << size_field
    gct = b"".join(bytes(c) for c in palette)
    gct += b"\x00" * (table_n * 3 - len(gct))
    min_code = max(2, bits)
    if interlace:
        order = [r for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))
                 for r in range(s, h, st)]
        pix = idx[order].tobytes()
    else:
        pix = idx.tobytes()
    lzw = _gif_lzw_encode(pix, min_code)
    blocks = b"".join(bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
                      for i in range(0, len(lzw), 255))
    return (b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0) + gct
            + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE extension
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                    0x40 if interlace else 0)
            + bytes([min_code]) + blocks + b"\x00" + b"\x3b")


def test_gif_decode_lzw_and_interlace():
    from rustac_spark.mm.codecs import decode_image, gif_decode

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    rng = np.random.default_rng(3)
    idx = rng.integers(0, 4, (13, 7), dtype=np.uint8)
    expected = np.array(palette, np.uint8)[idx]

    plain = _gif_bytes(idx, palette)
    assert np.array_equal(gif_decode(plain), expected)
    assert np.array_equal(decode_image(plain), expected)  # magic dispatch

    inter = _gif_bytes(idx, palette, interlace=True)
    assert np.array_equal(gif_decode(inter), expected)

    # big image drives real table growth through several code widths
    big = rng.integers(0, 4, (40, 50), dtype=np.uint8)
    assert np.array_equal(
        gif_decode(_gif_bytes(big, palette)),
        np.array(palette, np.uint8)[big])

    with pytest.raises(ValueError):
        gif_decode(b"GIF89a" + b"\x00" * 20)


def test_corrupt_and_null_payloads_dead_letter(spark):
    """Truncated payloads that pass the magic sniff (struct/zlib-level
    failures) and NULL payload cells must produce NULL rows, not kill
    the Arrow task."""
    from rustac_spark.mm.binary_ops import (extract_audio_features,
                                            extract_image_features)

    rows = [("trunc-bmp", bytearray(b"BM" + b"\x01" * 10)),
            ("trunc-png", bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 12)),
            ("trunc-gif", bytearray(b"GIF89a" + b"\x00" * 3)),
            ("null", None)]
    df = spark.createDataFrame(rows, "url string, payload binary")
    imgs = {r["url"]: r["width"]
            for r in extract_image_features(df).collect()}
    assert imgs == {"trunc-bmp": None, "trunc-png": None,
                    "trunc-gif": None, "null": None}
    wav = spark.createDataFrame(
        [("trunc-wav", bytearray(b"RIFF\x10\x00\x00\x00WAVE"
                                 b"fmt \x02\x00\x00\x00\x01\x00")),
         ("null", None)], "url string, payload binary")
    au = {r["url"]: r["n_samples"]
          for r in extract_audio_features(wav).collect()}
    assert au == {"trunc-wav": None, "null": None}
