"""Discrete global grid cells — pure Column math, no UDF.

H3/s2sphere are not installed in this environment, so the engine uses
an equal-angle quadtree grid behind an H3-like interface
(SURVEY.md §7 M3 "pure-numpy fallback cell scheme"): at resolution r
the world is a 2^r × 2^r lon/lat grid; a cell id packs
(res, y, x) into one LongType:

    id = (res << 58) | (y << 29) | x        (res ≤ 29)

Everything here returns pyspark Column expressions built from
sequence/transform/flatten — the covering runs inside whole-stage
codegen on the JVM, which is the engine's core scale lever: covering
10^12 footprints costs zero Python.

API mirrors what the h3 package would provide (latlng_to_cell ≈
``cell_of_point``, polygon_to_cells ≈ ``cover_bbox``, grid_disk ≈
``k_ring``, cell_to_children ≈ ``children``), so installing real H3
later is a drop-in swap of this module.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

DEFAULT_RES = 10  # ~0.35° × 0.18° cells; page footprints hit 1-4 cells

_RES_SHIFT = 58
_Y_SHIFT = 29


def _n(res: int) -> int:
    return 1 << res


def encode(res: int, x: Column, y: Column) -> Column:
    base = F.lit(res << _RES_SHIFT).cast("long")
    return base + F.shiftleft(y.cast("long"), _Y_SHIFT) + x.cast("long")


def _xi(lon: Column, res: int) -> Column:
    n = _n(res)
    i = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), i.cast("long")))


def _yi(lat: Column, res: int) -> Column:
    n = _n(res)
    i = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), i.cast("long")))


def cell_of_point(lon: Column, lat: Column, res: int = DEFAULT_RES) -> Column:
    """≈ h3.latlng_to_cell — LongType cell containing the point."""
    return encode(res, _xi(lon, res), _yi(lat, res))


def cover_bbox(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
               res: int = DEFAULT_RES) -> Column:
    """≈ h3.polygon_to_cells for a rect — ArrayType(LongType) of all
    cells intersecting the bbox. Pure sequence/transform/flatten."""
    x0, x1 = _xi(xmin, res), _xi(xmax, res)
    y0, y1 = _yi(ymin, res), _yi(ymax, res)
    xs = F.sequence(x0, x1)
    ys = F.sequence(y0, y1)
    return F.flatten(F.transform(
        xs, lambda x: F.transform(ys, lambda y: encode(res, x, y))))


def k_ring(cell: Column, k: int, res: int = DEFAULT_RES) -> Column:
    """≈ h3.grid_disk — all cells within Chebyshev distance k
    (clamped at grid edges). ArrayType(LongType)."""
    n = _n(res)
    base = cell - F.lit(res << _RES_SHIFT).cast("long")
    cy = F.shiftright(base, _Y_SHIFT)
    cx = base - F.shiftleft(cy, _Y_SHIFT)
    x0 = F.greatest(F.lit(0).cast("long"), cx - k)
    x1 = F.least(F.lit(n - 1).cast("long"), cx + k)
    y0 = F.greatest(F.lit(0).cast("long"), cy - k)
    y1 = F.least(F.lit(n - 1).cast("long"), cy + k)
    return F.flatten(F.transform(
        F.sequence(x0, x1),
        lambda x: F.transform(F.sequence(y0, y1), lambda y: encode(res, x, y))))


def children(cell: Column, res: int) -> Column:
    """≈ h3.cell_to_children — the 4 child cells at res+1 (used by
    adaptive subdivision of dense cells)."""
    base = cell - F.lit(res << _RES_SHIFT).cast("long")
    cy = F.shiftright(base, _Y_SHIFT)
    cx = base - F.shiftleft(cy, _Y_SHIFT)
    r2 = res + 1
    out = []
    for dx in (0, 1):
        for dy in (0, 1):
            out.append(encode(r2, F.shiftleft(cx, 1) + dx,
                              F.shiftleft(cy, 1) + dy))
    return F.array(*out)


def cell_size_deg(res: int) -> tuple[float, float]:
    return 360.0 / _n(res), 180.0 / _n(res)
