"""Property-based tests (hypothesis) for the pure kernels — robustness
beyond the fixture corpus (the reference has no property tests;
SURVEY.md §5 notes that gap)."""

import numpy as np
from hypothesis import assume, given, settings, strategies as st

from rustac_spark.geo.predicates import (
    points_in_polygon, rects_intersect_polygon,
)
from rustac_spark.geo.wkbio import bbox_polygon_wkb, parse_wkb, wkb_bounds
from rustac_spark.stac.datetime_parse import (
    DatetimeParseError, normalize, parse_interval,
)
from scalar_oracles import minhash_signature, shingles, zorder_key_py

lat = st.floats(min_value=-84.0, max_value=84.0, allow_nan=False)
lon = st.floats(min_value=-179.0, max_value=179.0, allow_nan=False)
size = st.floats(min_value=1e-6, max_value=2.0, allow_nan=False)


@given(lon, lat, size, size)
@settings(max_examples=200, deadline=None)
def test_wkb_bbox_roundtrip(x, y, w, h):
    wkb = bbox_polygon_wkb(x, y, x + w, y + h)
    assert wkb_bounds(wkb) == (x, y, x + w, y + h)
    kind, rings = parse_wkb(wkb)
    assert kind == "polygon" and len(rings) == 1 and rings[0].shape == (5, 2)


@given(lon, lat, size, size, lon, lat)
@settings(max_examples=200, deadline=None)
def test_rect_polygon_consistency(x, y, w, h, px, py):
    """A point inside a rect-ring ⇒ the degenerate rect at that point
    intersects the polygon, and PIP agrees."""
    # stay clear of the intentional 1e-12 boundary-touch tolerance
    # (ST_Intersects counts touching; kernels use an epsilon band)
    for edge in (x, x + w):
        assume(abs(px - edge) > 1e-9)
    for edge in (y, y + h):
        assume(abs(py - edge) > 1e-9)
    ring = np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h],
                     [x, y]])
    inside = bool(points_in_polygon(
        np.array([px]), np.array([py]), ring)[0])
    rect_hit = bool(rects_intersect_polygon(
        np.array([px]), np.array([py]), np.array([px]), np.array([py]),
        ring)[0])
    expected = (x <= px <= x + w) and (y <= py <= y + h)
    assert inside == expected == rect_hit


@given(st.integers(min_value=1583, max_value=9999),
       st.integers(min_value=1, max_value=12))
@settings(max_examples=100, deadline=None)
def test_datetime_partial_expansion_invariants(year, month):
    s, e = parse_interval(f"{year:04d}-{month:02d}")
    assert s.year == e.year == year and s.month == e.month == month
    assert s.day == 1 and (s.hour, s.minute, s.second) == (0, 0, 0)
    assert (e.hour, e.minute, e.second) == (23, 59, 59)
    assert s <= e
    # normalize is idempotent on its own output's halves
    n = normalize(f"{year:04d}-{month:02d}")
    a, b = n.split("/")
    assert normalize(a) == a and normalize(b) == b


@given(st.text(min_size=0, max_size=200))
@settings(max_examples=100, deadline=None)
def test_minhash_deterministic_and_bounded(text):
    s1 = minhash_signature(text)
    s2 = minhash_signature(text)
    assert (s1 == s2).all() and len(s1) == 64
    assert shingles(text) == shingles(text)


@given(st.text(alphabet="abc/.-:0123456789TZ ", max_size=30))
@settings(max_examples=200, deadline=None)
def test_parse_interval_never_crashes_unexpectedly(s):
    """Garbage either parses to a valid interval or raises the typed
    error — never an arbitrary exception."""
    try:
        start, end = parse_interval(s)
        if start is not None and end is not None:
            assert start <= end
    except DatetimeParseError:
        pass


@given(lon, lat, size, size, st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=150, deadline=None)
def test_rects_intersect_pieces_vs_sampled_oracle(x, y, w, h, seed):
    """The generalized rect×geometry kernel agrees with a dense-sample
    oracle on random multi-geometries: if any sampled point of the
    geometry lies in the rect, the kernel must say True (no false
    negatives on witnessed intersections); if the kernel says False,
    no sample may fall inside."""
    from rustac_spark.geo.predicates import rects_intersect_pieces
    from rustac_spark.geo.wkbio import (
        geojson_to_wkb, geometry_pieces, parse_wkb)
    rng = np.random.default_rng(seed)
    cx, cy = x + rng.uniform(-2, 2), y + rng.uniform(-2, 2)
    tri = [[cx, cy], [cx + 1.3, cy + 0.2], [cx + 0.4, cy + 1.7], [cx, cy]]
    line = [[cx - 1, cy - 1], [cx + 2, cy + 2], [cx + 3, cy - 1]]
    pt = [cx + 0.5, cy + 0.5]
    gj = {"type": "GeometryCollection", "geometries": [
        {"type": "Polygon", "coordinates": [tri]},
        {"type": "LineString", "coordinates": line},
        {"type": "Point", "coordinates": pt},
    ]}
    pieces = geometry_pieces(parse_wkb(geojson_to_wkb(gj)))
    got = bool(rects_intersect_pieces(
        np.array([x]), np.array([y]),
        np.array([x + w]), np.array([y + h]), pieces)[0])

    # sample witnesses: triangle interior points, line points, the point
    samples = [pt]
    a, b, c = np.array(tri[0]), np.array(tri[1]), np.array(tri[2])
    for _ in range(120):
        u, v = rng.uniform(0, 1, 2)
        if u + v > 1:
            u, v = 1 - u, 1 - v
        samples.append((a + u * (b - a) + v * (c - a)).tolist())
    ls = np.array(line)
    for i in range(len(ls) - 1):
        for t in np.linspace(0, 1, 40):
            samples.append((ls[i] * (1 - t) + ls[i + 1] * t).tolist())
    eps = 1e-9
    witnessed = any(x + eps < sx < x + w - eps and y + eps < sy < y + h - eps
                    for sx, sy in samples)
    if witnessed:
        assert got, (x, y, w, h, gj)


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 24), st.integers(1, 24), st.integers(0, 2**32 - 1))
def test_png_roundtrip_lossless(h, w, seed):
    from rustac_spark.mm.codecs import png_decode, png_encode
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(arr)), arr)


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 20), st.integers(1, 20), st.integers(1, 8),
       st.integers(0, 2**32 - 1))
def test_gif_roundtrip_lossless(h, w, ncol, seed):
    from rustac_spark.mm.codecs import gif_decode, gif_encode
    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
    arr = palette[rng.integers(0, ncol, (h, w))]
    assert np.array_equal(gif_decode(gif_encode(arr)), arr)


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 500), st.integers(1, 2),
       st.sampled_from([8000, 16000, 44100]), st.integers(0, 2**32 - 1))
def test_wav_roundtrip_lossless(n, ch, rate, seed):
    from rustac_spark.mm.codecs import wav_decode, wav_encode
    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
    got, grate = wav_decode(wav_encode(s, rate))
    assert grate == rate and np.array_equal(got, s)


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 3), st.integers(8, 24), st.integers(8, 24),
       st.integers(0, 2**32 - 1))
def test_jpeg_decodes_whatever_it_encodes(nf, h, w, seed):
    # lossy: assert structural sanity, not equality
    from jpeg_encoder import jpeg_encode
    from rustac_spark.mm.jpeg import jpeg_decode
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    for sub in ("444", "420"):
        out = jpeg_decode(jpeg_encode(arr, quality=90, subsampling=sub))
        assert out.shape == arr.shape and out.dtype == np.uint8


@given(st.integers(min_value=0, max_value=65535),
       st.integers(min_value=0, max_value=65535))
@settings(max_examples=300, deadline=None)
def test_zorder_interleave_roundtrip(xi, yi):
    """Morton code is a bijection: deinterleaving the odd/even bits
    recovers the grid indices, and the code stays within 32 bits."""
    z = zorder_key_py(xi, yi)
    assert 0 <= z < (1 << 32)
    rx = ry = 0
    for b in range(16):
        rx |= ((z >> (2 * b)) & 1) << b
        ry |= ((z >> (2 * b + 1)) & 1) << b
    assert (rx, ry) == (xi, yi)


@given(st.integers(min_value=1, max_value=200),
       st.integers(min_value=1, max_value=60),
       st.integers(min_value=0, max_value=59))
@settings(max_examples=200, deadline=None)
def test_chunk_start_arithmetic_covers_all_tokens(n, chunk, overlap):
    """The chunk-start sequence (stride = chunk − overlap, last start
    = floor((n−1)/step)·step) tiles [0, n): every token lands in some
    chunk and consecutive chunks overlap by exactly `overlap` (when a
    full successor exists). Pure twin of textops.basic.chunk_tokens."""
    assume(overlap < chunk)
    step = chunk - overlap
    starts = list(range(0, ((n - 1) // step) * step + 1, step))
    covered = set()
    for s in starts:
        covered.update(range(s, min(n, s + chunk)))
    assert covered == set(range(n))
    for a, b in zip(starts, starts[1:]):
        shared = max(0, min(a + chunk, n) - b)
        if b + chunk <= n:
            assert shared == overlap
