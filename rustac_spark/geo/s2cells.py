"""S2-style face-partitioned hierarchical grid — pure Column math.

BASELINE.json names two coverings: an H3-like cell covering
(geo/cells.py, the default equal-angle quadtree) and an S2-like
region covering. s2sphere is not installable in this environment
(SURVEY.md §7 "offline deps"), so this module provides the S2
*structure* — a sphere partitioned into 6 faces, each carrying its
own 2^L × 2^L quadtree hierarchy with parent/child relations and a
conservative region covering — with face-local equirectangular
coordinates instead of S2's gnomonic+quadratic ST projection and
Hilbert ordering. Swapping in real s2sphere later changes cell *ids*
only; the covering contract is identical and join results are
unchanged either way, because every covering here is a conservative
superset and the spatial join always applies the exact rect/geometry
residual after the cell equi-join (geo/join.py).

Faces (id 0-5):
    0-3  equatorial belt, lat ∈ [-45°, 45°), 90° lon quadrants
    4    north polar cap, lat ∈ [45°, 90°]
    5    south polar cap, lat ∈ [-90°, -45°)

Cell id packing (LongType):  (level << 58) | (face << 54) | (j << 27) | i
with level ≤ 15 for sane cardinality (i, j < 2^level ≤ 2^15 per face).

Everything returns pyspark Column expressions (sequence / transform /
flatten) so covering 10^12 footprints runs inside whole-stage codegen
— the same zero-Python discipline as geo/cells.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

DEFAULT_LEVEL = 9  # 2^9 grid per face ≈ 0.18° equatorial cells

_LEVEL_SHIFT = 58
_FACE_SHIFT = 54
_J_SHIFT = 27

# face → (lon0, lon1, lat0, lat1) region rect
FACE_RECTS = [
    (-180.0, -90.0, -45.0, 45.0),
    (-90.0, 0.0, -45.0, 45.0),
    (0.0, 90.0, -45.0, 45.0),
    (90.0, 180.0, -45.0, 45.0),
    (-180.0, 180.0, 45.0, 90.0),
    (-180.0, 180.0, -90.0, -45.0),
]


def encode(level: int, face: int, i: Column, j: Column) -> Column:
    base = F.lit((level << _LEVEL_SHIFT) | (face << _FACE_SHIFT)).cast("long")
    return base + F.shiftleft(j.cast("long"), _J_SHIFT) + i.cast("long")


def _axis_index(coord: Column, lo: float, hi: float, n: int) -> Column:
    idx = F.floor((coord - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), idx.cast("long")))


def _face_cond(face: int, lon: Column, lat: Column) -> Column:
    lon0, lon1, lat0, lat1 = FACE_RECTS[face]
    cond = (lat >= F.lit(lat0)) & (lat < F.lit(lat1)) if face != 4 \
        else (lat >= F.lit(45.0))
    if face < 4:
        # the last equatorial face closes at the antimeridian so
        # lon = 180 exactly still lands on a face
        hi = (lon <= F.lit(lon1)) if face == 3 else (lon < F.lit(lon1))
        cond = cond & (lon >= F.lit(lon0)) & hi
    return cond


def cell_of_point(lon: Column, lat: Column,
                  res: int = DEFAULT_LEVEL) -> Column:
    """LongType cell containing the point (res = S2-style level)."""
    n = 1 << res
    lon = F.least(F.lit(180.0), F.greatest(F.lit(-180.0), lon))
    lat = F.least(F.lit(90.0), F.greatest(F.lit(-90.0), lat))
    out = None
    for face in range(6):
        lon0, lon1, lat0, lat1 = FACE_RECTS[face]
        cell = encode(res, face,
                      _axis_index(lon, lon0, lon1, n),
                      _axis_index(lat, lat0, lat1, n))
        cond = _face_cond(face, lon, lat)
        out = F.when(cond, cell) if out is None else out.when(cond, cell)
    return out.otherwise(F.lit(-1).cast("long"))


def cover_bbox(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
               res: int = DEFAULT_LEVEL) -> Column:
    """ArrayType(LongType): ALL cells intersecting the lon/lat rect —
    a conservative (exact, cell-granular) covering. The rect is
    clipped to each face region; non-overlapping faces contribute an
    empty array. Pure sequence/transform/flatten per face."""
    n = 1 << res
    parts = []
    for face in range(6):
        lon0, lon1, lat0, lat1 = FACE_RECTS[face]
        cx0 = F.greatest(xmin, F.lit(lon0))
        cx1 = F.least(xmax, F.lit(lon1))
        cy0 = F.greatest(ymin, F.lit(lat0))
        cy1 = F.least(ymax, F.lit(lat1))
        i0, i1 = _axis_index(cx0, lon0, lon1, n), _axis_index(cx1, lon0, lon1, n)
        j0, j1 = _axis_index(cy0, lat0, lat1, n), _axis_index(cy1, lat0, lat1, n)
        cells = F.flatten(F.transform(
            F.sequence(i0, i1),
            lambda i: F.transform(F.sequence(j0, j1),
                                  lambda j: encode(res, face, i, j))))
        overlap = (cx0 <= cx1) & (cy0 <= cy1)
        # half-open face edges: a rect ending exactly at a face's lower
        # boundary belongs to the neighbor only, except the world edge
        # (face 3 closes at the antimeridian, mirroring _face_cond — a
        # degenerate rect at lon=180 must cover the cell its point is in)
        if face < 4:
            lon_hi = (xmin <= F.lit(lon1)) if face == 3 \
                else (xmin < F.lit(lon1))
            overlap = overlap & lon_hi & (ymin < F.lit(45.0)) \
                & (ymax >= F.lit(-45.0)) & (xmax >= F.lit(lon0))
        elif face == 4:
            overlap = overlap & (ymax >= F.lit(45.0))
        else:
            overlap = overlap & (ymin < F.lit(-45.0))
        parts.append(F.when(overlap, cells)
                     .otherwise(F.array().cast("array<bigint>")))
    return F.concat(*parts)


def children(cell: Column, res: int) -> Column:
    """The 4 child cells at level res+1 within the same face."""
    face_bits = F.shiftrightunsigned(cell, _FACE_SHIFT).bitwiseAND(F.lit(0xF))
    j = F.shiftrightunsigned(cell, _J_SHIFT) \
        .bitwiseAND(F.lit((1 << (_FACE_SHIFT - _J_SHIFT)) - 1))
    i = cell.bitwiseAND(F.lit((1 << _J_SHIFT) - 1))
    r2 = res + 1
    base = F.lit(r2 << _LEVEL_SHIFT).cast("long") \
        + F.shiftleft(face_bits.cast("long"), _FACE_SHIFT)
    out = []
    for dx in (0, 1):
        for dy in (0, 1):
            out.append(base
                       + F.shiftleft(F.shiftleft(j, 1) + dy, _J_SHIFT)
                       + F.shiftleft(i, 1) + dx)
    return F.array(*out)
