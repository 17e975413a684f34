"""Compile driver-captured geometry pieces to SQL predicate text.

The spatial join's refine step evaluates exact rect x geometry
intersects for polygon-kind queries. The numpy kernels
(predicates.py) run Arrow-batched in mapInPandas — correct, but the
whole candidate stream then pays Arrow serialization + Python worker
time, which measures as the join stage's scaling ceiling at high
parallelism (the Column-only join runs ~3x faster at local[16] on the
bench input than the same join with the Arrow refine attached).

The spatial join captures every polygon's pieces driver-side, and a
search has one literal geometry, so small geometries — the common
STAC search contract: a handful of polygons with tens of vertices —
compile into a boolean expression evaluated inside generated code:
zero Python, zero Arrow, short-circuited per row.
geometry_predicate is that one predicate: spatial_join uses it through
compile_refine_predicate, and search ``intersects`` and every CQL2
``s_intersects`` through intersects_column, which makes any geometry
one boolean Column over the item bbox struct.

The predicate is emitted as SQL text over the caller's column
references and handed to the plan through ONE F.expr per public
function — building it costs milliseconds of string work instead of
one py4j call per literal and operator. Three rules are
load-bearing:
- literals are exact DOUBLEs: repr(float) plus a D suffix (_lit). A
  bare 0.1 in Spark SQL is a DECIMAL and changes the arithmetic;
- chains are flat: `a OR b OR c`, never nested one term at a time —
  Spark's parser balances a flat AND/OR chain, where a left-deep
  600-term OR overflowed the JVM stack during analysis. Left-to-right
  order is kept, so the cover accept still short-circuits first;
- emission is deterministic: the same geometry gives the same text,
  hence the same tree and a codegen-cache hit (see anchored).

Physical form matters: a direct Column transliteration of the
ray-cast + on-edge kernels produced ~900 expression nodes per polygon
and the whole-refine CASE chain then exceeded the JVM's 64 KB
per-method bytecode limit — Janino fails, Spark silently falls back
to INTERPRETED per-row evaluation, and the "compiled" join ran 3x
slower than the Arrow path (measured at local[8], sf0.4). So the
compiler instead emits separating-axis (SAT) conjunctions:

- convex ring: one SAT block over the whole ring — rect-axis bbox
  overlap + one projection-overlap conjunction per edge normal, with
  the rect's projection extrema resolved to xmin/xmax (ymin/ymax) at
  BUILD time from the normal's sign. ~16 nodes per edge.
- non-convex ring: ear-clip triangulation (driver-side, exact
  float64) and OR the per-triangle SAT blocks. Triangles tile the
  closed polygon exactly, so rect ∩ polygon ≠ ∅ ⟺ ∃ triangle with
  rect ∩ triangle ≠ ∅. ~55 nodes per triangle.
- holes: candidate accepted unless the rect is STRICTLY inside a
  hole: all four corners inside the hole (point-in-convex /
  point-in-triangle = SAT with a degenerate rect) and no hole edge
  touching the rect (Liang-Barsky).

The SAT arithmetic mirrors the DuckDB oracle's formulation
(__spark_entry__._sat_convex_conds) term for term, so the compiled
predicate is the same exact closed-set intersection test the
correctness gate checks. Versus the numpy kernels the accepted sets
are identical except for rects separated from the geometry by less
than 1e-12 — the kernels' on-edge tolerance shell, which SAT (exact
closed-set math) does not widen; tests/test_colgeom.py locks
set-equality on random + exact-boundary rect soups.

MEASURED OUTCOME, rounds 4-6 (this 32-core sandbox, sf0.4 probe
set, 17 polygons): even with codegen verified working (factoryMode
CODEGEN_ONLY passes), the compiled join tied the Arrow refine at
local[8] (13.5 vs 13.8 s) and lost badly at local[16] (26.7 vs
9.2 s, stable across passes) — the per-row SAT eval over the whole
polygon stream anti-scaled, so compilation stayed opt-in through
round 6.

RE-MEASURED, round 7: the multi-rect inscribed covers
(predicates.inscribed_rects, up to 3 verified interior rects per
polygon) absorb ~94% of polygon candidates BEFORE any SAT block
runs, which flips the economics: compiled beat the (since deleted)
reject-memo refine at every parallelism level (sf0.1 build+write
interleaved A/B: local[8] 2.39 vs 3.35 s, local[16] 1.75 vs 2.62 s,
local[32] 1.63 vs 2.75 s), with zero eager Spark jobs at plan build.
The analysis below of WHERE generated code breaks remains
load-bearing for any future compiled geometry work.

Two budgets gate compilation (callers fall back to the Arrow kernel
on None): a per-geometry vertex cap (bounds per-row evaluation cost)
and a total expression-node cap across all queries (keeps the
generated filter method far below the 64 KB bytecode ceiling that
broke the v1 compiler).

Reference behaviour compiled here: ST_Intersects residual semantics of
crates/duckdb/src/client.rs:343-359 / crates/core/src/item.rs:457-468.
"""

from __future__ import annotations

import hashlib
import pickle

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F

from .predicates import (inscribed_rects, is_axis_aligned_rect_ring,
                         rects_intersect_pieces)
from .wkbio import geometry_pieces, parse_wkb, wkb_bounds

# Per-query vertex cap: past this, per-row evaluation cost stops
# paying for itself against the Arrow kernel's vectorized batches.
DEFAULT_VERTEX_BUDGET = 96

# Total estimated expression nodes across ALL compiled queries.
# Because the refine Filter is deliberately kept OUT of whole-stage
# codegen (see anchored), its CASE branches are
# generated as separate split methods and the old single-method
# Janino ceiling (~2-4k nodes, measured) no longer binds; this cap
# bounds generated-class size and plan/compile latency instead.
DEFAULT_NODE_BUDGET = 24000

# cost model (estimated expression nodes) per compiled construct
_NODES_PER_SAT_AXIS = 16
_NODES_PER_SEGMENT = 30
_NODES_PER_POINT = 10


def _close_open(ring) -> np.ndarray:
    """Mirror the kernels' ring normalization: drop the closing
    vertex when present; keep open rings as-is."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    return ring


def _signed_area2(pts: np.ndarray) -> float:
    x, y = pts[:, 0], pts[:, 1]
    return float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def _is_convex(pts: np.ndarray) -> bool:
    """All turns the same orientation (collinear allowed)."""
    a = pts
    b = np.roll(pts, -1, axis=0)
    c = np.roll(pts, -2, axis=0)
    cross = ((b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
             - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0]))
    return bool(np.all(cross >= 0.0) or np.all(cross <= 0.0))


def _point_in_closed_tri(p, a, b, c) -> bool:
    """Driver-side inclusive point-in-triangle (ear validity test)."""
    d1 = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
    d2 = (c[0] - b[0]) * (p[1] - b[1]) - (c[1] - b[1]) * (p[0] - b[0])
    d3 = (a[0] - c[0]) * (p[1] - c[1]) - (a[1] - c[1]) * (p[0] - c[0])
    has_neg = d1 < 0 or d2 < 0 or d3 < 0
    has_pos = d1 > 0 or d2 > 0 or d3 > 0
    return not (has_neg and has_pos)


def ear_clip(ring) -> list[np.ndarray] | None:
    """Exact triangulation of a simple polygon ring (driver-side).

    Returns the list of triangles (each a (3,2) float64 array) whose
    closed union equals the closed polygon, or None if the ring is
    degenerate / self-intersecting (the two-ears theorem guarantees
    progress on any SIMPLE polygon; a full sweep with no clippable
    ear means the input is not one)."""
    pts = _close_open(ring)
    if len(pts) < 3:
        return None
    idx = list(range(len(pts)))
    if _signed_area2(pts) < 0.0:
        idx.reverse()  # ensure CCW traversal
    tris: list[np.ndarray] = []
    guard = 0
    while len(idx) > 3:
        guard += 1
        if guard > 2 * len(pts) * len(pts):
            return None
        clipped = False
        for k in range(len(idx)):
            i0, i1, i2 = (idx[k - 1], idx[k], idx[(k + 1) % len(idx)])
            a, b, c = pts[i0], pts[i1], pts[i2]
            cross = ((b[0] - a[0]) * (c[1] - a[1])
                     - (b[1] - a[1]) * (c[0] - a[0]))
            if cross < 0.0:
                continue  # reflex corner — not an ear
            if cross == 0.0:
                # collinear corner: zero-area ear, clip with no triangle
                idx.pop(k)
                clipped = True
                break
            if any(_point_in_closed_tri(pts[j], a, b, c)
                   for j in idx
                   if j not in (i0, i1, i2)
                   and not (np.array_equal(pts[j], a)
                            or np.array_equal(pts[j], b)
                            or np.array_equal(pts[j], c))):
                continue
            tris.append(np.array([a, b, c]))
            idx.pop(k)
            clipped = True
            break
        if not clipped:
            return None
    a, b, c = pts[idx[0]], pts[idx[1]], pts[idx[2]]
    cross = ((b[0] - a[0]) * (c[1] - a[1])
             - (b[1] - a[1]) * (c[0] - a[0]))
    if cross != 0.0:
        tris.append(np.array([a, b, c]))
    return tris if tris else None


def _lit(v) -> str:
    """An exact DOUBLE literal: the shortest round-tripping repr plus
    the D suffix (a bare ``0.1`` in Spark SQL is a DECIMAL)."""
    return f"{float(v)!r}D"


def _or(terms) -> str:
    """A flat OR chain (the parser balances it); ``false`` if empty."""
    terms = list(terms)
    return " OR ".join(f"({t})" for t in terms) if terms else "false"


def _and(terms) -> str:
    return " AND ".join(f"({t})" for t in terms)


def _overlap_sql(x0, y0, x1, y1, rx0: str, ry0: str, rx1: str,
                 ry1: str) -> str:
    """Inclusive overlap of the row's rect with the constant rect
    [x0, x1] x [y0, y1] (a point is the degenerate rect)."""
    return (f"{rx0} <= {_lit(x1)} AND {rx1} >= {_lit(x0)}"
            f" AND {ry0} <= {_lit(y1)} AND {ry1} >= {_lit(y0)}")


def _sat_convex_sql(verts, rx0: str, ry0: str, rx1: str, ry1: str) -> str:
    """rect × convex polygon intersection as a separating-axis
    conjunction — the SQL-text twin of the DuckDB oracle's
    _sat_convex_conds (__spark_entry__.py), same arithmetic term for
    term: rect-axis bbox overlap, then per edge normal (nx, ny) =
    (y2-y1, -(x2-x1)) an overlap test of [rmin, rmax] vs the
    constant-folded polygon projection interval, where the rect's
    extremal corner per normal is chosen at BUILD time from the
    normal's sign."""
    verts = [(float(x), float(y)) for x, y in np.asarray(
        verts, dtype=np.float64)]
    xs = [v[0] for v in verts]
    ys = [v[1] for v in verts]
    conds = [_overlap_sql(min(xs), min(ys), max(xs), max(ys),
                          rx0, ry0, rx1, ry1)]
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        nx, ny = (y2 - y1), -(x2 - x1)
        if nx == 0.0 and ny == 0.0:
            continue  # degenerate edge
        projs = [nx * vx + ny * vy for vx, vy in verts]
        pmin, pmax = min(projs), max(projs)
        rlo_x, rhi_x = (rx0, rx1) if nx > 0 else (rx1, rx0)
        rlo_y, rhi_y = (ry0, ry1) if ny > 0 else (ry1, ry0)
        conds.append(f"{_lit(nx)} * {rlo_x} + {_lit(ny)} * {rlo_y}"
                     f" <= {_lit(pmax)}")
        conds.append(f"{_lit(nx)} * {rhi_x} + {_lit(ny)} * {rhi_y}"
                     f" >= {_lit(pmin)}")
    return " AND ".join(conds)


def _segment_hits_rect_sql(x1: float, y1: float, x2: float, y2: float,
                           rx0: str, ry0: str, rx1: str, ry1: str) -> str:
    """SQL-text twin of predicates._segments_intersect_rects for one
    constant segment vs per-row rects (Liang-Barsky). The p==0 /
    p<0 / p>0 branching resolves at expression-build time because the
    segment is constant."""
    dx, dy = x2 - x1, y2 - y1
    qs = ((-dx, f"{_lit(x1)} - {rx0}"), (dx, f"{rx1} - {_lit(x1)}"),
          (-dy, f"{_lit(y1)} - {ry0}"), (dy, f"{ry1} - {_lit(y1)}"))
    conds: list[str] = []
    t0 = [_lit(0.0)]
    t1 = [_lit(1.0)]
    for p, q in qs:
        if p == 0:
            conds.append(f"{q} >= {_lit(0.0)}")
        elif p < 0:
            t0.append(f"({q}) / {_lit(p)}")
        else:
            t1.append(f"({q}) / {_lit(p)}")
    lo = t0[0] if len(t0) == 1 else f"greatest({', '.join(t0)})"
    hi = t1[0] if len(t1) == 1 else f"least({', '.join(t1)})"
    return " AND ".join(conds + [f"{lo} <= {hi}"])


def _convex_parts(pts: np.ndarray) -> list[np.ndarray] | None:
    """The ring itself if convex, else its ear-clip triangles (None
    if it cannot be triangulated): convex pieces whose union is the
    closed ring, so a rect meets the ring iff it meets ANY part."""
    return [pts] if _is_convex(pts) else ear_clip(pts)


def _sat_nodes(parts) -> int:
    return sum((len(p) + 2) * _NODES_PER_SAT_AXIS for p in parts)


def _rect_strictly_inside_hole(pts: np.ndarray, parts,
                               rx0: str, ry0: str, rx1: str, ry1: str) -> str:
    """SQL-text twin of predicates._rect_strictly_inside_ring for a
    hole ring: all four rect corners inside the closed hole AND no
    hole edge touching the rect. Corner membership is point-in-ANY
    convex part — SAT with a degenerate rect."""
    corners = [_or(_sat_convex_sql(p, cx, cy, cx, cy) for p in parts)
               for cx, cy in ((rx0, ry0), (rx1, ry0), (rx1, ry1), (rx0, ry1))]
    n = len(pts)
    edges = [_segment_hits_rect_sql(*pts[i], *pts[(i + 1) % n],
                                    rx0, ry0, rx1, ry1) for i in range(n)]
    return f"{_and(corners)} AND NOT ({_or(edges)})"


def _n_vertices(pieces) -> int:
    total = 0
    for kind, data in pieces:
        if kind == "point":
            total += 1
        elif kind == "line":
            total += len(data)
        else:
            total += sum(len(ring) for ring in data)
    return total


def _pieces_terms(pieces, rect) -> tuple[list[str], int] | None:
    """(one SQL term per piece, node estimate) — the row's rect
    intersects the geometry iff ANY term holds; None when over
    DEFAULT_VERTEX_BUDGET or a ring cannot be triangulated."""
    if _n_vertices(pieces) > DEFAULT_VERTEX_BUDGET:
        return None
    terms: list[str] = []
    nodes = 0
    for kind, data in pieces:
        if kind == "point":
            terms.append(_overlap_sql(*data, *data, *rect))
            nodes += _NODES_PER_POINT
        elif kind == "line":
            pts = np.asarray(data, dtype=np.float64)
            if len(pts) == 1:
                terms.append(_overlap_sql(*pts[0], *pts[0], *rect))
                nodes += _NODES_PER_POINT
            for i in range(len(pts) - 1):
                terms.append(_segment_hits_rect_sql(
                    *pts[i], *pts[i + 1], *rect))
                nodes += _NODES_PER_SEGMENT
        else:  # poly: rings[0] exterior, rest holes
            rings = [_close_open(r) for r in data]
            parts = [_convex_parts(r) for r in rings]
            if any(p is None for p in parts):
                return None
            poly = [_or(_sat_convex_sql(p, *rect) for p in parts[0])]
            nodes += _sat_nodes(parts[0])
            for hole, hole_parts in zip(rings[1:], parts[1:]):
                inside = _rect_strictly_inside_hole(hole, hole_parts, *rect)
                poly.append(f"NOT ({inside})")
                nodes += (4 * _sat_nodes(hole_parts)
                          + len(hole) * _NODES_PER_SEGMENT)
            terms.append(_and(poly))
    return terms, nodes


def compile_pieces_predicate(pieces, rx0: str, ry0: str, rx1: str, ry1: str,
                             ) -> tuple[Column, int] | None:
    """(expr, node estimate): does the per-row rect (column references
    such as ``"bbox.xmin"``) intersect ANY piece — the compiled twin of
    predicates.rects_intersect_pieces (union semantics of
    Multi*/GeometryCollection, search.rs:236-251).

    Returns None when the geometry exceeds DEFAULT_VERTEX_BUDGET
    vertices or a ring cannot be triangulated — the caller keeps the
    Arrow kernel for that geometry.
    """
    compiled = _pieces_terms(pieces, (rx0, ry0, rx1, ry1))
    if compiled is None:
        return None
    return F.expr(_or(compiled[0])), compiled[1]


def _content_key(pieces) -> str:
    return hashlib.sha256(pickle.dumps(pieces)).hexdigest()


# Max inscribed rects per polygon for the containment accept
# (predicates.inscribed_rects): the accept is `inside ANY rect`, so
# more rects = fewer candidates paying the exact test, at 4 extra
# comparisons per rect per row.
_INNER_K = 3

# Inscribed covers, memoized on geometry CONTENT (pickle hash of the
# pieces) so an entry can never go stale: the anchor-grid search costs
# ~6 ms of driver numpy per polygon, and per-request callers (HTTP
# server, bench pass) ask for the same geometries again and again.
# Cleared wholesale when full and only read with .get: server threads
# share it, and single dict operations cannot race into an exception.
_CACHE: dict[str, list] = {}
_CACHE_MAX = 256


def inscribed_cover(pieces) -> list[tuple]:
    """Up to _INNER_K axis-aligned rects strictly inside the geometry
    (empty unless it is one hole-free polygon): a rect wholly inside
    any of them intersects the geometry by containment."""
    key = _content_key(pieces)
    out = _CACHE.get(key)
    if out is None:
        out = inscribed_rects(pieces, _INNER_K)
        if len(_CACHE) >= _CACHE_MAX:
            _CACHE.clear()
        _CACHE[key] = out
    return out


def _geometry_sql(pieces, rect) -> tuple[str, int] | None:
    """geometry_predicate as SQL text: the inscribed-cover accepts,
    then the compiled pieces, in one flat OR chain."""
    compiled = _pieces_terms(pieces, rect)
    if compiled is None:
        return None
    rx0, ry0, rx1, ry1 = rect
    covers = [f"{rx0} >= {_lit(ir[0])} AND {ry0} >= {_lit(ir[1])}"
              f" AND {rx1} <= {_lit(ir[2])} AND {ry1} <= {_lit(ir[3])}"
              for ir in inscribed_cover(pieces)]
    return _or(covers + compiled[0]), compiled[1]


def geometry_predicate(pieces, rx0: str, ry0: str, rx1: str, ry1: str,
                       ) -> tuple[Column, int] | None:
    """(expr, node estimate): the engine's ONE rect × geometry
    intersects predicate — the multi-rect inscribed-cover accept
    OR-ed ahead of the compiled SAT test, over the rect's column
    references. spatial_join's polygon refine (via
    compile_refine_predicate) and intersects_column (search
    ``intersects``, CQL2 ``s_intersects``) both build it here.

    None only when the geometry is over DEFAULT_VERTEX_BUDGET or a
    ring cannot be triangulated; the caller then keeps the numpy
    kernel for that geometry.
    """
    compiled = _geometry_sql(pieces, (rx0, ry0, rx1, ry1))
    if compiled is None:
        return None
    return F.expr(compiled[0]), compiled[1]


def anchored(pred: Column) -> Column:
    """``pred`` wrapped so it stays a standalone, split-method Filter.

    WSCG escape hatch: inlined into a WholeStageCodegen consume() (or
    merged into the broadcast join's condition) a large CASE chain
    lands in ONE Java method and Janino fails past ~2-4k nodes
    (measured), silently degrading the WHOLE stage to interpreted
    execution. The always-true anchor keeps the predicate a
    standalone Filter with split-method codegen:
    - every conjunct is NONDETERMINISTIC, because the join pushdown
      rule PARTITIONS conjuncts by determinism and merges every
      deterministic one into the join condition — so the predicate
      is fused into ONE conjunct by OR-ing an always-false
      nondeterministic term. `rand() < -1` does NOT work (the
      optimizer range-folds rand comparisons and the OR collapses,
      verified); `spark_partition_id() < 0` survives and costs one
      int compare;
    - the anchor conjunct contains a higher-order function
      (CodegenFallback), which excludes just this Filter from
      whole-stage codegen — the scan / explode / broadcast-join
      below keep WSCG, and the standalone Filter's predicate goes
      through GeneratePredicate in INPUT_ROW mode, where Spark CAN
      split the CASE branches into separate (JIT-able) methods.
    Cost: the predicate conjunct runs first, so only ACCEPTED rows
    pay the anchor's interpreted 1-element array probe (&& short-
    circuits); rejected rows pay one extra int compare.
    FIXED seed: F.rand() draws a fresh seed per call, making the
    expression tree differ between otherwise-identical plans — every
    fresh plan then misses the codegen cache and re-Janinos the whole
    predicate (~5 s/pass measured in the bench pipeline). rand(42) is
    still flagged nondeterministic (which is all the anchor needs)
    but keeps the generated code identical across plan builds, so
    compilation is paid once per session.
    """
    anchor = F.exists(F.array(F.rand(42)), lambda x: x >= F.lit(-1.0))
    return (pred | (F.spark_partition_id() < F.lit(0))) & anchor


# The item table's bbox struct covering index
# (crates/core/src/geoparquet.rs:397-435): search predicates compile
# against its fields so Catalyst pushes them into the parquet scan.
_BBOX = ("bbox.xmin", "bbox.ymin", "bbox.xmax", "bbox.ymax")


def bbox_overlap_col(x0, y0, x1, y1) -> Column:
    """Inclusive overlap of the item bbox with a rect. NULL bbox ⇒
    NULL ⇒ filtered (null-geometry-never-matches,
    crates/core/src/item.rs:461-467)."""
    return F.expr(_overlap_sql(x0, y0, x1, y1, *_BBOX))


def _degenerate_sql(pieces) -> str | None:
    """Points and axis-aligned rects as plain bbox compares (an OR over
    the pieces), or None if any piece needs the exact predicate."""
    terms = []
    for kind, data in pieces:
        if kind == "point":
            terms.append(_overlap_sql(*data, *data, *_BBOX))
        elif (kind == "poly" and len(data) == 1
              and is_axis_aligned_rect_ring(data[0])):
            r = data[0]
            terms.append(_overlap_sql(r[:, 0].min(), r[:, 1].min(),
                                      r[:, 0].max(), r[:, 1].max(), *_BBOX))
        else:
            return None
    return _or(terms)


def _kernel_column(pieces) -> Column:
    """predicates.rects_intersect_pieces as a scalar Arrow UDF over the
    four bbox fields — for geometries colgeom cannot compile. A row
    with a NULL bbox field gets NULL, like the compiled compares."""
    @F.pandas_udf("boolean")
    def hits(x0: pd.Series, y0: pd.Series, x1: pd.Series,
             y1: pd.Series) -> pd.Series:
        null = (x0.isna() | y0.isna() | x1.isna() | y1.isna()).to_numpy()
        out = np.zeros(len(x0), dtype=bool)
        ok = ~null
        out[ok] = rects_intersect_pieces(
            x0.to_numpy()[ok], y0.to_numpy()[ok],
            x1.to_numpy()[ok], y1.to_numpy()[ok], pieces)
        return pd.Series(pd.arrays.BooleanArray(out, null))

    return hits(*[F.col(c) for c in _BBOX])


def intersects_column(wkb: bytes) -> Column:
    """Does the item bbox intersect this geometry — one boolean Column
    over the bbox struct, valid anywhere in a filter (under AND, OR
    and NOT, with SQL three-valued logic: NULL bbox ⇒ NULL). Search
    ``intersects`` and CQL2 ``s_intersects`` both compile here:

    - points and axis-aligned rects: plain bbox compares, which push
      into the scan and stay deterministic;
    - an empty geometry intersects nothing: NULL for a NULL bbox,
      else false;
    - any other geometry: the bbox prefilter on its bounds AND the
      exact test — the anchored geometry_predicate, or past
      DEFAULT_VERTEX_BUDGET (or for a ring ear_clip cannot
      triangulate) the numpy kernel as a scalar Arrow UDF. Under a
      top-level AND, Spark evaluates the UDF above the pushed
      prefilter.
    """
    pieces = geometry_pieces(parse_wkb(wkb))
    if not pieces:
        return F.expr(f"CASE WHEN {_BBOX[0]} IS NULL THEN NULL ELSE false END")
    simple = _degenerate_sql(pieces)
    if simple is not None:
        return F.expr(simple)
    prefilter = bbox_overlap_col(*wkb_bounds(wkb))
    compiled = geometry_predicate(pieces, *_BBOX)
    if compiled is not None:
        return prefilter & anchored(compiled[0])
    return prefilter & _kernel_column(pieces)


def compile_refine_predicate(pieces_by_qid: dict[int, list],
                             qid: str, kind: str,
                             rx0: str, ry0: str, rx1: str, ry1: str,
                             ) -> Column | None:
    """The spatial join's whole refine filter as one anchored Column
    over the given column references, or None if ANY query's geometry
    is out of budget (all-or-nothing: a partial compile would still
    drag the full stream through Arrow for the rest, so there is
    nothing to win).

    Matches _mixed_refine row semantics: non-polygon kinds pass (rect
    overlap is already exact for them), polygon kinds take
    geometry_predicate in a CASE over the query id.

    DEFAULT_NODE_BUDGET bounds the ESTIMATED expression-node total
    across all queries: past the JVM's 64 KB bytecode ceiling Janino
    fails and Spark falls back to interpreted evaluation — slower
    than the Arrow kernel this compiler exists to beat.
    """
    whens: list[str] = []
    total_nodes = 0
    for q, pieces in pieces_by_qid.items():
        compiled = _geometry_sql(pieces, (rx0, ry0, rx1, ry1))
        if compiled is None:
            return None
        total_nodes += compiled[1]
        if total_nodes > DEFAULT_NODE_BUDGET:
            return None
        whens.append(f"WHEN {int(q)} THEN {compiled[0]}")
    polygon_ok = (f"CASE {qid} {' '.join(whens)} ELSE false END" if whens
                  else "false")
    return anchored(F.expr(f"{kind} != 'polygon' OR {polygon_ok}"))
