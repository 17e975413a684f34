"""Multimodal column plumbing (north-rule training-data operators).

Images and audio are opaque ``binary`` columns with typed metadata.
Every still-image format decodes with REAL from-scratch kernels
(mm/codecs.py + mm/jpeg.py): PPM P6, 24-bit BMP, baseline PNG
(zlib + unfilter), GIF (hand-written LZW), and baseline JPEG
(DCT/Huffman, 4:4:4 + 4:2:0); WAV/PCM audio decodes with the
pure-numpy kernel in mm/codecs.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .codecs import decode_image, image_features

MAGIC = {
    b"<html>": "text/html",
    b"\x89PNG\r\n": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"GIF8": "image/gif",
    b"RIFF": "audio/wav",
    b"P6": "image/x-portable-pixmap",
    b"BM": "image/bmp",
}


def with_binary_meta(df: DataFrame, bin_col: str = "html") -> DataFrame:
    """Typed metadata for an opaque binary column — pure Column ops:
    byte length + magic-byte content sniff."""
    b = F.col(bin_col)
    sniff = F.lit("application/octet-stream")
    for magic, mime in MAGIC.items():
        cond = F.expr(
            f"substring({bin_col}, 1, {len(magic)})") == F.lit(bytearray(magic))
        sniff = F.when(cond, F.lit(mime)).otherwise(sniff)
    return (df.withColumn("n_bytes", F.length(b))
            .withColumn("content_type", sniff))


DECODE_SCHEMA = ("url string, width int, height int, channels int, "
                 "features array<float>")


def extract_image_features(df: DataFrame, bin_col: str = "payload",
                           url_col: str = "url") -> DataFrame:
    """Batch image decode → (url, w, h, c, features). PPM, BMP, PNG,
    GIF and baseline JPEG decode with the real from-scratch kernels;
    anything else yields a null row (the behavior of a
    decode-with-dead-letter pipeline stage)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, data in zip(pdf[url_col], pdf[bin_col]):
                try:
                    arr = decode_image(bytes(data))
                    rows.append((url, arr.shape[1], arr.shape[0],
                                 arr.shape[2], image_features(arr)))
                except (NotImplementedError, ValueError, TypeError):
                    # TypeError: null payload cell (bytes(None))
                    rows.append((url, None, None, None, None))
            yield pd.DataFrame(rows, columns=[
                "url", "width", "height", "channels", "features"])

    return df.select(url_col, bin_col).mapInPandas(gen, schema=DECODE_SCHEMA)


AUDIO_SCHEMA = ("url string, n_samples long, n_channels int, "
                "sample_rate int, duration_s double, rms double, "
                "peak double, zcr double")


def extract_audio_features(df: DataFrame, bin_col: str = "payload",
                           url_col: str = "url") -> DataFrame:
    """Batch WAV/PCM decode → per-clip features (duration, rms, peak,
    zero-crossing rate) with the REAL pure-numpy kernel
    (codecs.wav_decode); non-audio rows yield nulls (dead-letter
    stage behavior, same contract as extract_image_features)."""
    from .codecs import audio_features, wav_decode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, data in zip(pdf[url_col], pdf[bin_col]):
                try:
                    s, rate = wav_decode(bytes(data))
                    dur, rms, peak, zcr = audio_features(s, rate)
                    rows.append((url, s.shape[0], s.shape[1], rate,
                                 dur, rms, peak, zcr))
                except (NotImplementedError, ValueError, TypeError):
                    rows.append((url, None, None, None,
                                 None, None, None, None))
            yield pd.DataFrame(rows, columns=[
                "url", "n_samples", "n_channels", "sample_rate",
                "duration_s", "rms", "peak", "zcr"])

    return df.select(url_col, bin_col).mapInPandas(gen,
                                                   schema=AUDIO_SCHEMA)
