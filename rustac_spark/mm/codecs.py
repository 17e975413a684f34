"""Pure-numpy image codecs (PPM P6, 24-bit BMP, and baseline PNG) —
the REAL decode kernels behind mm.binary_ops.

Pillow/ffmpeg are not installable in this environment. PPM/BMP need
no codec at all; PNG needs only stdlib zlib, so a from-scratch
baseline decoder lives here too (8-bit depth, all 5 scanline filters,
color types 0/2/3/4/6, non-interlaced — the overwhelming majority of
real-world PNGs); GIF87a/89a decodes via a hand-written LZW
(mm/codecs); baseline JPEG decodes via the from-scratch DCT/Huffman
decoder in mm/jpeg.py.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


# ------------------------------------------------------------- PPM (P6)

def ppm_encode(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6, maxval 255)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("PPM P6 requires 3 channels")
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def ppm_decode(data: bytes) -> np.ndarray:
    """Binary PPM (P6) → (h, w, 3) uint8. Handles comment lines and
    arbitrary whitespace in the header, like a real reader."""
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos:pos + 1].isspace():
            pos += 1
        if data[pos:pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    n = w * h * 3
    px = np.frombuffer(data, dtype=np.uint8, count=n, offset=pos)
    return px.reshape(h, w, 3).copy()


# --------------------------------------------------------- BMP (24-bit)

def bmp_encode(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → uncompressed 24-bit BMP
    (BITMAPINFOHEADER, bottom-up, BGR, 4-byte row padding)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, _ = arr.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    bgr = arr[::-1, :, ::-1]  # bottom-up rows, RGB→BGR
    for r in range(h):
        body += bgr[r].tobytes() + b"\x00" * pad
    size = 14 + 40 + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return header + info + bytes(body)


def bmp_decode(data: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP → (h, w, 3) uint8 RGB."""
    if not data.startswith(b"BM"):
        raise ValueError("not a BMP")
    (offset,) = struct.unpack_from("<I", data, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", data, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", data, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    bottom_up = h > 0
    h = abs(h)
    row = w * 3
    stride = row + (4 - row % 4) % 4
    rows = []
    for r in range(h):
        off = offset + r * stride
        rows.append(np.frombuffer(data, dtype=np.uint8, count=row,
                                  offset=off).reshape(w, 3))
    arr = np.stack(rows)
    if bottom_up:
        arr = arr[::-1]
    return arr[:, :, ::-1].copy()  # BGR→RGB


# ------------------------------------------------------- PNG (baseline)

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))


def png_encode(arr: np.ndarray, level: int = 6) -> bytes:
    """(h, w, 3) uint8 RGB → PNG (color type 2, bit depth 8,
    filter-0 scanlines, non-interlaced)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("png_encode expects RGB")
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw, level))
            + _png_chunk(b"IEND", b""))


def _png_unfilter(raw: bytes, h: int, w: int, bpp: int) -> np.ndarray:
    """Reverse the 5 PNG scanline filters (spec §6) → (h, w*bpp)."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        f = raw[pos]
        row = np.frombuffer(raw, np.uint8, stride, pos + 1).copy()
        pos += stride + 1
        if f == 0:                      # None
            pass
        elif f == 1:                    # Sub (left dependency: scan)
            for i in range(bpp, stride):
                row[i] = (int(row[i]) + int(row[i - bpp])) & 0xFF
        elif f == 2:                    # Up (vectorized, uint8 wraps)
            row += prev
        elif f == 3:                    # Average
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (int(row[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:                    # Paeth
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                row[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = row
        prev = row
    return out


def png_decode(data: bytes) -> np.ndarray:
    """Baseline PNG → (h, w, 3) uint8 RGB. Supports bit depth 8,
    color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha),
    6 (RGBA; alpha dropped), non-interlaced — stdlib zlib only."""
    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG")
    pos = len(PNG_SIG)
    ihdr = None
    plte = None
    idat = []
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + payload + crc
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif typ == b"PLTE":
            plte = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(payload)
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise NotImplementedError(
            f"PNG bit depth {depth}/compression {comp} unsupported")
    if interlace != 0:
        raise NotImplementedError("interlaced (Adam7) PNG unsupported")
    if ctype not in _PNG_CHANNELS:
        raise NotImplementedError(f"PNG color type {ctype} unsupported")
    bpp = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (w * bpp + 1):
        raise ValueError("PNG pixel data size mismatch")
    px = _png_unfilter(raw, h, w, bpp).reshape(h, w, bpp)
    if ctype == 2:
        return px.copy()
    if ctype == 6:
        return px[:, :, :3].copy()
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    if ctype == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    # ctype == 3: palette
    if plte is None:
        raise ValueError("paletted PNG missing PLTE")
    return plte[px[:, :, 0]]


# ------------------------------------------------------- GIF (LZW)

def _gif_lzw_decode(data: bytes, min_code: int, npix: int) -> bytes:
    """GIF-variant LZW: variable code width (≤12 bits, LSB-first),
    clear/end control codes, table rebuild on clear."""
    clear = 1 << min_code
    end = clear + 1
    table: list[bytes] = []
    code_size = min_code + 1
    prev: bytes | None = None

    def reset():
        nonlocal table, code_size, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size = min_code + 1
        prev = None

    reset()
    out: list[bytes] = []
    n_out = 0
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + code_size <= total_bits and n_out < npix:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i:byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt GIF LZW stream")
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        out.append(entry)
        n_out += len(entry)
        prev = entry
    return b"".join(out)[:npix]


def _gif_lzw_encode(pix: bytes, min_code: int) -> bytes:
    """GIF-variant LZW compress; bit widths packed by simulating the
    decoder's table-growth rule so both sides stay in lockstep."""
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


def gif_encode(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB with ≤256 distinct colors → GIF89a
    (global color table, non-interlaced). Raises for richer images —
    GIF is palette-bound by design; quantization is out of scope."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, _ = arr.shape
    flat = arr.reshape(-1, 3)
    palette, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError("gif_encode needs ≤256 distinct colors")
    bits = max(1, (len(palette) - 1).bit_length())
    size_field = bits - 1
    table_n = 2 << size_field
    gct = palette.tobytes() + b"\x00" * ((table_n - len(palette)) * 3)
    min_code = max(2, bits)
    lzw = _gif_lzw_encode(idx.astype(np.uint8).tobytes(), min_code)
    blocks = b"".join(bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
                      for i in range(0, len(lzw), 255))
    return (b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0)
            + gct
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
            + bytes([min_code]) + blocks + b"\x00" + b"\x3b")


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_decode(data: bytes) -> np.ndarray:
    """GIF87a/89a first frame → (h, w, 3) uint8 RGB. From-scratch LZW
    (no external codec); handles global/local color tables, extension
    blocks, and interlaced row order."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    _, _, flags = struct.unpack_from("<HHB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(-1, 3)
        pos += n * 3
    while pos < len(data):
        b = data[pos]
        if b == 0x21:           # extension: label then sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += data[pos] + 1
            pos += 1
        elif b == 0x2C:         # image descriptor
            _, _, w, h, iflags = struct.unpack_from("<HHHHB", data,
                                                    pos + 1)
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                ct = np.frombuffer(data, np.uint8, n * 3,
                                   pos).reshape(-1, 3)
                pos += n * 3
            min_code = data[pos]
            pos += 1
            chunks = []
            while data[pos] != 0:
                ln = data[pos]
                chunks.append(data[pos + 1:pos + 1 + ln])
                pos += ln + 1
            pos += 1
            idx = _gif_lzw_decode(b"".join(chunks), min_code, w * h)
            if len(idx) < w * h:
                raise ValueError("GIF pixel data truncated")
            arr = np.frombuffer(idx, np.uint8).reshape(h, w)
            if iflags & 0x40:   # interlaced: reorder rows
                out = np.empty_like(arr)
                src = 0
                for start, step in _GIF_INTERLACE_PASSES:
                    rows = range(start, h, step)
                    out[list(rows)] = arr[src:src + len(rows)]
                    src += len(rows)
                arr = out
            if ct is None:
                raise ValueError("GIF frame has no color table")
            return ct[arr]
        elif b == 0x3B:         # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    raise ValueError("GIF contains no image frame")


# ------------------------------------------------------ WAV (PCM)

def wav_encode(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """(n,) or (n, ch) int16 PCM → RIFF/WAVE bytes."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    body = np.ascontiguousarray(s).tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    data = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)
    return b"RIFF" + struct.pack("<I", len(data)) + data


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM (8- or 16-bit) → ((n, ch) int16 array, rate).
    Walks the chunk list like a real reader (fmt may not be first;
    unknown chunks skipped)."""
    if not data.startswith(b"RIFF") or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, body = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        payload = data[pos + 8:pos + 8 + clen]
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            try:
                fmt = struct.unpack_from("<HHIIHH", payload)
            except struct.error as e:  # truncated fmt chunk
                raise ValueError(f"corrupt WAV fmt chunk: {e}") from e
        elif cid == b"data":
            body = payload
    if fmt is None or body is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, ch, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"only PCM 8/16-bit WAV (fmt={audio_fmt}, bits={bits})")
    if bits == 16:
        s = np.frombuffer(body, dtype="<i2")
    else:  # unsigned 8-bit → centered int16
        s = (np.frombuffer(body, dtype=np.uint8).astype(np.int16)
             - 128) << 8
    n = len(s) // ch
    return s[:n * ch].reshape(n, ch).copy(), rate


def audio_features(samples: np.ndarray, rate: int) -> list[float]:
    """[duration_s, rms, peak, zero_crossing_rate] over the mono mix,
    amplitudes normalized to [-1, 1]."""
    mono = samples.astype(np.float64).mean(axis=1) / 32768.0
    n = len(mono)
    dur = n / rate if rate else 0.0
    rms = float(np.sqrt(np.mean(mono ** 2))) if n else 0.0
    peak = float(np.abs(mono).max()) if n else 0.0
    zc = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) \
        if n > 1 else 0.0
    return [float(dur), rms, peak, zc]


# ------------------------------------------------------ shared kernels

def decode_image(data: bytes) -> np.ndarray:
    """Dispatch on magic bytes → (h, w, 3) uint8 RGB. Raises
    NotImplementedError for formats that need an external codec, and
    normalizes every low-level parse failure (truncated payloads that
    pass the magic sniff raise struct.error / zlib.error / IndexError
    from the kernels) to ValueError — the dead-letter contract every
    Arrow consumer relies on catches exactly (NotImplementedError,
    ValueError)."""
    try:
        if data.startswith(b"P6"):
            return ppm_decode(data)
        if data.startswith(b"BM"):
            return bmp_decode(data)
        if data.startswith(PNG_SIG):
            return png_decode(data)
        if data[:6] in (b"GIF87a", b"GIF89a"):
            return gif_decode(data)
        if data.startswith(b"\xff\xd8\xff"):
            from .jpeg import jpeg_decode
            return jpeg_decode(data)
    except (ValueError, NotImplementedError):
        raise
    except (struct.error, zlib.error, IndexError, EOFError,
            KeyError) as e:
        raise ValueError(f"corrupt image payload: {e}") from e
    raise NotImplementedError(
        "unrecognized image format (PPM/BMP/PNG/GIF/baseline-JPEG "
        "decode from scratch; anything else needs Pillow)")


def image_features(arr: np.ndarray) -> list[float]:
    """[mean_r, mean_g, mean_b, mean_all] in [0, 1]."""
    means = arr.reshape(-1, 3).mean(axis=0) / 255.0
    return [float(means[0]), float(means[1]), float(means[2]),
            float(means.mean())]
