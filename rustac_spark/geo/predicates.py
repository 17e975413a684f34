"""Vectorized exact geometric predicates (pure numpy — shapely-free).

Used as the *refine* step after the cell-index prefilter
(SURVEY.md §2.3): the engine converts every spatial-theta predicate
into equi-join-on-cell + one of these residual kernels, evaluated
Arrow-batched inside mapInPandas. Axis-aligned cases (bbox × bbox,
point × bbox) never reach Python — they compile to Column math.

Semantics = ST_Intersects (touching counts), mirroring the reference's
DuckDB predicates (crates/duckdb/src/client.rs:343-359) and in-memory
intersects (crates/core/src/item.rs:457-468).
"""

from __future__ import annotations

import numpy as np


def points_in_polygon(px: np.ndarray, py: np.ndarray,
                      ring: np.ndarray) -> np.ndarray:
    """Ray-casting PIP: N points vs one polygon exterior ring.

    ring: (M, 2) closed or open ring (closure handled here).
    Boundary points count as inside (ST_Intersects semantics) via an
    explicit on-segment check.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    n = len(ring)
    inside = np.zeros(px.shape, dtype=bool)
    on_edge = np.zeros(px.shape, dtype=bool)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        # crossing test (half-open rule avoids double-count at vertices)
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= cond & (px < xint)
        # on-segment test
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        within = ((np.minimum(x1, x2) - 1e-12 <= px)
                  & (px <= np.maximum(x1, x2) + 1e-12)
                  & (np.minimum(y1, y2) - 1e-12 <= py)
                  & (py <= np.maximum(y1, y2) + 1e-12))
        on_edge |= (np.abs(cross) < 1e-12) & within
    return inside | on_edge


def _segments_intersect_rects(x1, y1, x2, y2, rx0, ry0, rx1, ry1):
    """Liang–Barsky: does segment (x1,y1)-(x2,y2) hit each rect?
    Scalars for the segment, arrays for the rects."""
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros(rx0.shape)
    t1 = np.ones(rx0.shape)
    ok = np.ones(rx0.shape, dtype=bool)
    for p, q in ((-dx, x1 - rx0), (dx, rx1 - x1), (-dy, y1 - ry0), (dy, ry1 - y1)):
        if p == 0:
            ok &= q >= 0
        else:
            r = q / p
            if p < 0:
                t0 = np.maximum(t0, r)
            else:
                t1 = np.minimum(t1, r)
    return ok & (t0 <= t1)


def rects_intersect_polygon(rx0: np.ndarray, ry0: np.ndarray,
                            rx1: np.ndarray, ry1: np.ndarray,
                            ring: np.ndarray) -> np.ndarray:
    """Exact rect × polygon intersects, vectorized over N rects.

    True iff any polygon vertex is inside the rect, OR any rect corner
    is inside the polygon, OR any polygon edge crosses the rect —
    which together cover containment either way and boundary crossing.
    O(N · M) numpy ops for an M-vertex polygon.
    """
    rx0 = np.asarray(rx0, dtype=np.float64)
    ry0 = np.asarray(ry0, dtype=np.float64)
    rx1 = np.asarray(rx1, dtype=np.float64)
    ry1 = np.asarray(ry1, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]

    out = np.zeros(rx0.shape, dtype=bool)
    # polygon vertex inside rect
    for vx, vy in ring:
        out |= (rx0 <= vx) & (vx <= rx1) & (ry0 <= vy) & (vy <= ry1)
    # rect corner inside polygon
    for cx, cy in ((rx0, ry0), (rx1, ry0), (rx1, ry1), (rx0, ry1)):
        rem = ~out
        if rem.any():
            out[rem] |= points_in_polygon(cx[rem], cy[rem], ring)
    # polygon edge crosses rect
    n = len(ring)
    for i in range(n):
        rem = ~out
        if not rem.any():
            break
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        out[rem] |= _segments_intersect_rects(
            x1, y1, x2, y2, rx0[rem], ry0[rem], rx1[rem], ry1[rem])
    return out


def _rect_strictly_inside_ring(rx0, ry0, rx1, ry1, ring) -> np.ndarray:
    """True where the rect lies within `ring` without touching it —
    all four corners inside AND no ring edge intersecting the rect.
    (A corner exactly on the ring boundary means the rect touches the
    ring, which the edge test catches — inclusive PIP is safe here.)"""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    inside = points_in_polygon(rx0, ry0, ring)
    for cx, cy in ((rx1, ry0), (rx1, ry1), (rx0, ry1)):
        rem = inside
        if rem.any():
            inside = inside.copy()
            inside[rem] &= points_in_polygon(cx[rem], cy[rem], ring)
    n = len(ring)
    for i in range(n):
        if not inside.any():
            break
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        rem = inside
        inside = inside.copy()
        inside[rem] &= ~_segments_intersect_rects(
            x1, y1, x2, y2, rx0[rem], ry0[rem], rx1[rem], ry1[rem])
    return inside


def rects_intersect_polygon_holes(rx0, ry0, rx1, ry1, rings) -> np.ndarray:
    """Exact rect × polygon-with-holes intersects. rings[0] is the
    exterior, the rest interior rings: the rect intersects iff it
    intersects the exterior and is not strictly contained in a hole
    (ring boundaries belong to the polygon — ST_Intersects semantics,
    matching the reference's hole-aware geometries decoded in
    crates/core/src/geoarrow/json.rs:471-480)."""
    rx0 = np.asarray(rx0, dtype=np.float64)
    ry0 = np.asarray(ry0, dtype=np.float64)
    rx1 = np.asarray(rx1, dtype=np.float64)
    ry1 = np.asarray(ry1, dtype=np.float64)
    out = rects_intersect_polygon(rx0, ry0, rx1, ry1, rings[0])
    for hole in rings[1:]:
        rem = out
        if not rem.any():
            break
        out = out.copy()
        out[rem] &= ~_rect_strictly_inside_ring(
            rx0[rem], ry0[rem], rx1[rem], ry1[rem], hole)
    return out


def rects_intersect_pieces(rx0, ry0, rx1, ry1, pieces) -> np.ndarray:
    """Exact rect × arbitrary-geometry intersects, vectorized over N
    rects. `pieces` is the output of wkbio.geometry_pieces: a list of
    ("point",(x,y)) | ("line", ndarray[n,2]) | ("poly", [rings]).
    True where the rect intersects ANY piece — the union semantics of
    Multi*/GeometryCollection (search.rs:236-251)."""
    rx0 = np.asarray(rx0, dtype=np.float64)
    ry0 = np.asarray(ry0, dtype=np.float64)
    rx1 = np.asarray(rx1, dtype=np.float64)
    ry1 = np.asarray(ry1, dtype=np.float64)
    out = np.zeros(rx0.shape, dtype=bool)
    for kind, data in pieces:
        if kind == "point":
            x, y = data
            out |= (rx0 <= x) & (x <= rx1) & (ry0 <= y) & (y <= ry1)
        elif kind == "line":
            pts = np.asarray(data, dtype=np.float64)
            if len(pts) == 1:
                x, y = pts[0]
                out |= (rx0 <= x) & (x <= rx1) & (ry0 <= y) & (y <= ry1)
            for i in range(len(pts) - 1):
                rem = ~out
                if not rem.any():
                    break
                out[rem] |= _segments_intersect_rects(
                    pts[i, 0], pts[i, 1], pts[i + 1, 0], pts[i + 1, 1],
                    rx0[rem], ry0[rem], rx1[rem], ry1[rem])
        else:  # poly
            rem = ~out
            if rem.any():
                out[rem] |= rects_intersect_polygon_holes(
                    rx0[rem], ry0[rem], rx1[rem], ry1[rem], data)
    return out


def is_axis_aligned_rect_ring(ring: np.ndarray) -> bool:
    """Detect a 5-point closed axis-aligned rectangle ring (the shape
    Bbox::to_geometry produces, bbox.rs:164-187) — lets the planner
    compile the predicate to pure Column math instead of a UDF."""
    ring = np.asarray(ring, dtype=np.float64)
    if ring.shape != (5, 2) or not np.array_equal(ring[0], ring[4]):
        return False
    xs = np.unique(ring[:, 0])
    ys = np.unique(ring[:, 1])
    return len(xs) == 2 and len(ys) == 2


def inscribed_rects(pieces, k: int = 3) -> list[tuple]:
    """Up to ``k`` axis-aligned rects STRICTLY inside a single
    hole-free polygon (possibly empty): a 5×5 anchor grid × a
    shrink-factor ladder, keeping the largest rects whose centers are
    not already covered — for irregular shapes the union covers
    several times a single centroid-anchored rect's area (measured on
    the bench probe set: hard refine rows 300,235 → 108,525 with
    k=3). Every candidate is verified by the exact
    ``_rect_strictly_inside_ring`` kernel, so selection quality only
    affects coverage, never correctness of the containment accept."""
    polys = [kk for kk, _ in pieces]
    bodies = [d for kk, d in pieces if kk == "poly"]
    if len(pieces) != 1 or polys != ["poly"] or len(bodies[0]) != 1:
        return []
    ring = np.asarray(bodies[0][0], dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    closed = np.vstack([ring, ring[:1]])
    x0, x1 = float(ring[:, 0].min()), float(ring[:, 0].max())
    y0, y1 = float(ring[:, 1].min()), float(ring[:, 1].max())
    w0, h0 = (x1 - x0) / 2.0, (y1 - y0) / 2.0
    if w0 <= 0.0 or h0 <= 0.0:
        return []
    axs = np.linspace(x0 + 0.15 * (x1 - x0), x1 - 0.15 * (x1 - x0), 5)
    ays = np.linspace(y0 + 0.15 * (y1 - y0), y1 - 0.15 * (y1 - y0), 5)
    anchors = [(float(ax), float(ay)) for ax in axs for ay in ays]
    cand: list[tuple[float, tuple]] = []
    for f in (0.85, 0.65, 0.5, 0.35, 0.25, 0.15, 0.08):
        w, h = w0 * f, h0 * f
        rx0 = np.array([a[0] - w for a in anchors])
        ry0 = np.array([a[1] - h for a in anchors])
        rx1 = np.array([a[0] + w for a in anchors])
        ry1 = np.array([a[1] + h for a in anchors])
        ok = _rect_strictly_inside_ring(rx0, ry0, rx1, ry1, closed)
        for i in range(len(anchors)):
            if ok[i]:
                cand.append((4.0 * w * h,
                             (float(rx0[i]), float(ry0[i]),
                              float(rx1[i]), float(ry1[i]))))
    cand.sort(key=lambda t: (-t[0], t[1]))
    chosen: list[tuple] = []
    for _area, r in cand:
        if len(chosen) >= k:
            break
        cx, cy = (r[0] + r[2]) / 2.0, (r[1] + r[3]) / 2.0
        if any(c[0] <= cx <= c[2] and c[1] <= cy <= c[3]
               for c in chosen):
            continue  # center already covered: mostly redundant
        chosen.append(r)
    return chosen

