"""Compiled geometry predicate (geo/colgeom.py): accept-set
equality vs the numpy kernels (exact closed-set SAT — identical
outside the kernels' 1e-12 on-edge shell, which random + exact-
boundary soups never probe) for the join and for search
`intersects`, plus a hypothesis property over generated geometries
and rect soups; spatial_join path equivalence, budget fallback,
deterministic emission, ear-clip triangulation, and the zero-Python
plan shape the compilation exists for."""

import re

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from rustac_spark import DATA_DIR
from rustac_spark.geo.colgeom import (DEFAULT_NODE_BUDGET,
                                      DEFAULT_VERTEX_BUDGET,
                                      compile_pieces_predicate,
                                      compile_refine_predicate,
                                      geometry_predicate)
from rustac_spark.geo.join import spatial_join
from rustac_spark.geo.predicates import rects_intersect_pieces
from rustac_spark.geo.wkbio import (geometrycollection_wkb, linestring_wkb,
                                    point_wkb, polygon_wkb, wkb_bounds)
from rustac_spark.geocode import with_geocode
from rustac_spark.stac.search import Search, build_plan

RNG = np.random.default_rng(1234)

IRREGULAR = [("poly", [np.array(
    [(0.0, 0.0), (4.0, -1.0), (7.0, 2.0), (6.0, 5.5), (3.0, 7.0),
     (-1.0, 4.0), (-2.0, 1.5), (0.0, 0.0)])])]
WITH_HOLE = [("poly", [
    np.array([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),
              (0.0, 0.0)]),
    np.array([(3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0),
              (3.0, 3.0)])])]
MULTI = [("poly", [np.array([(0.0, 0.0), (2.0, 0.0), (1.0, 2.0),
                             (0.0, 0.0)])]),
         ("poly", [np.array([(5.0, 5.0), (8.0, 5.0), (8.0, 8.0),
                             (5.0, 8.0), (5.0, 5.0)])])]
LINE = [("line", np.array([(0.0, 0.0), (3.0, 3.0), (6.0, 1.0)]))]
POINT = [("point", (2.5, 2.5))]
RECTILINEAR = [("poly", [np.array(  # axis-parallel edges: p == 0 paths
    [(0.0, 0.0), (6.0, 0.0), (6.0, 3.0), (3.0, 3.0), (3.0, 6.0),
     (0.0, 6.0), (0.0, 0.0)])])]
# doubles whose shortest repr is a short decimal (a DECIMAL literal in
# Spark SQL without the D suffix), a repeating fraction, a tiny and a
# huge magnitude, and a negative zero
AWKWARD = [("poly", [np.array(
    [(-0.0, 1e-7), (0.3, -0.0), (1 / 3, 0.1), (0.1, 0.3), (-0.0, 1e-7)])]),
    ("point", (1e16, 0.1)),
    ("line", np.array([(1e16, 1 / 3), (1e16 + 4.0, 0.3)]))]

GEOMS = [IRREGULAR, WITH_HOLE, MULTI, LINE, POINT, RECTILINEAR, AWKWARD]


def _circle(cx, cy, r, n=120):
    """Closed n-gon ring: over DEFAULT_VERTEX_BUDGET, so every caller
    must take the Arrow kernel for it."""
    t = np.linspace(0, 2 * np.pi, n, endpoint=False)
    ring = np.column_stack([cx + r * np.cos(t), cy + r * np.sin(t)])
    return np.vstack([ring, ring[:1]])


CIRCLE = [("poly", [_circle(4.0, 4.0, 5.0)])]


def _pieces_wkb(pieces) -> bytes:
    wkbs = [point_wkb(*d) if k == "point"
            else linestring_wkb(d) if k == "line"
            else polygon_wkb(*d) for k, d in pieces]
    return wkbs[0] if len(wkbs) == 1 else geometrycollection_wkb(wkbs)


def _random_rects(n=400):
    """Rect soup crossing every regime: interior, containing,
    touching-at-boundary, degenerate (zero-area), far away."""
    cx = RNG.uniform(-4, 12, n)
    cy = RNG.uniform(-4, 12, n)
    w = RNG.choice([0.0, 0.1, 0.5, 2.0, 15.0], n) * RNG.uniform(0.5, 1, n)
    h = RNG.choice([0.0, 0.1, 0.5, 2.0, 15.0], n) * RNG.uniform(0.5, 1, n)
    rx0, rx1 = cx - w / 2, cx + w / 2
    ry0, ry1 = cy - h / 2, cy + h / 2
    # exact-boundary cases: rects whose edge lies on a polygon vertex
    extra = np.array([[0.0, 0.0, 1.0, 1.0], [-3.0, -3.0, 0.0, 0.0],
                      [3.0, 3.0, 7.0, 7.0], [4.0, 4.0, 6.0, 6.0],
                      [2.5, 2.5, 2.5, 2.5], [10.0, 10.0, 12.0, 12.0],
                      # AWKWARD: touching its exact vertex coordinates
                      [0.1, 0.3, 0.1, 0.3], [-1.0, -1.0, -0.0, 1e-7],
                      [0.3, -1.0, 1.0, -0.0], [1 / 3, 0.1, 1.0, 1.0],
                      [-1.0, 0.3, 0.1, 1.0], [1e-7, 1e-7, 1e-7, 1e-7],
                      [1e16, 0.1, 1e16, 0.1], [1e16 - 1.0, -1.0, 1e16, 0.1],
                      [1e16 + 4.0, 0.3, 1e16 + 8.0, 1.0],
                      [1e16, 1 / 3, 1e16, 1 / 3]])
    rx0 = np.concatenate([rx0, extra[:, 0]])
    ry0 = np.concatenate([ry0, extra[:, 1]])
    rx1 = np.concatenate([rx1, extra[:, 2]])
    ry1 = np.concatenate([ry1, extra[:, 3]])
    return rx0, ry0, rx1, ry1


@pytest.fixture(scope="module")
def rects_df(spark):
    rx0, ry0, rx1, ry1 = _random_rects()
    rows = [(int(i), float(a), float(b), float(c), float(d))
            for i, (a, b, c, d) in enumerate(zip(rx0, ry0, rx1, ry1))]
    df = spark.createDataFrame(
        rows, "rid int, xmin double, ymin double, xmax double, ymax double")
    df.cache().count()
    return df, (rx0, ry0, rx1, ry1)


@pytest.mark.parametrize("gi", range(len(GEOMS)))
def test_compiled_predicate_bit_equals_numpy_kernel(rects_df, gi):
    df, (rx0, ry0, rx1, ry1) = rects_df
    pieces = GEOMS[gi]
    expected = rects_intersect_pieces(rx0, ry0, rx1, ry1, pieces)
    compiled = compile_pieces_predicate(
        pieces, "xmin", "ymin", "xmax", "ymax")
    assert compiled is not None
    expr, nodes = compiled
    assert nodes > 0
    hits = df.withColumn("hit", expr)
    got = np.array([r["hit"] for r in
                    hits.orderBy("rid").select("hit").collect()])
    assert np.array_equal(got, expected)
    # every literal is an exact DOUBLE: a bare decimal would show up
    # as a DECIMAL cast in the analyzed plan
    assert "cast(" not in hits._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("gi", range(len(GEOMS) + 1))
def test_search_intersects_bit_equals_numpy_kernel(rects_df, gi):
    """The rect soup as an item bbox struct through build_plan: the
    in-budget geometries take the compiled predicate, the 120-vertex
    circle the Arrow kernel — both must accept exactly the numpy
    kernel's set."""
    df, (rx0, ry0, rx1, ry1) = rects_df
    pieces = (GEOMS + [CIRCLE])[gi]
    items = df.select("rid", F.struct("xmin", "ymin", "xmax", "ymax")
                      .alias("bbox"))
    got = {r["rid"] for r in build_plan(
        items, Search(intersects=_pieces_wkb(pieces))).collect()}
    expected = rects_intersect_pieces(rx0, ry0, rx1, ry1, pieces)
    assert got == set(np.nonzero(expected)[0].tolist())


def test_vertex_budget_returns_none(spark):
    big_ring = np.column_stack([
        np.cos(np.linspace(0, 2 * np.pi, DEFAULT_VERTEX_BUDGET + 10)),
        np.sin(np.linspace(0, 2 * np.pi, DEFAULT_VERTEX_BUDGET + 10))])
    assert compile_pieces_predicate(
        [("poly", [big_ring])], "xmin", "ymin", "xmax", "ymax") is None
    # refine compile is all-or-nothing: one over-budget query kills it
    assert compile_refine_predicate(
        {1: IRREGULAR, 2: [("poly", [big_ring])]},
        "query_id", "kind", "xmin", "ymin", "xmax", "ymax") is None


def test_node_budget_returns_none(spark):
    # many in-budget queries can still exceed the generated-code cap
    many = {q: IRREGULAR for q in range(200)}
    assert compile_refine_predicate(
        many, "query_id", "kind", "xmin", "ymin", "xmax", "ymax") is None


def test_refine_just_under_node_budget_counts(rects_df):
    """The largest IRREGULAR refine that still compiles analyses and
    runs: the flat OR/CASE text parses into balanced trees, so it
    cannot overflow the JVM stack the way a left-deep chain did."""
    df, (rx0, ry0, rx1, ry1) = rects_df
    per_query = compile_pieces_predicate(
        IRREGULAR, "xmin", "ymin", "xmax", "ymax")[1]
    n = DEFAULT_NODE_BUDGET // per_query
    refs = ("query_id", "kind", "xmin", "ymin", "xmax", "ymax")
    assert compile_refine_predicate(
        {q: IRREGULAR for q in range(n + 1)}, *refs) is None
    pred = compile_refine_predicate({q: IRREGULAR for q in range(n)}, *refs)
    assert pred is not None
    rows = df.select("xmin", "ymin", "xmax", "ymax",
                     (F.col("rid") % (n + 1)).alias("query_id"),
                     F.lit("polygon").alias("kind"))
    expected = rects_intersect_pieces(rx0, ry0, rx1, ry1, IRREGULAR)
    # query id n is not compiled: its rows fall to the CASE's ELSE
    compiled_q = np.arange(len(rx0)) % (n + 1) < n
    assert rows.where(pred).count() == int(np.sum(expected & compiled_q))


def test_emission_is_deterministic(spark):
    """Identical geometry gives an identical expression: plans built
    from fresh predicates keep hitting the codegen cache."""
    refs = ("xmin", "ymin", "xmax", "ymax")
    for pieces in GEOMS:
        assert (str(geometry_predicate(pieces, *refs)[0])
                == str(geometry_predicate(pieces, *refs)[0]))
    by_qid = {q: g for q, g in enumerate(GEOMS)}

    def refine_text():
        # the anchor's lambda variable takes a fresh name per build
        pred = compile_refine_predicate(by_qid, "query_id", "kind", *refs)
        return re.sub(r"\bx_\d+\b", "x", str(pred))

    assert refine_text() == refine_text()


def test_ear_clip_partitions_polygon():
    from rustac_spark.geo.colgeom import ear_clip
    ring = np.array([(0.0, 0.0), (6.0, 0.0), (6.0, 3.0), (3.0, 3.0),
                     (3.0, 6.0), (0.0, 6.0)])  # reflex L-shape
    tris = ear_clip(ring)
    assert tris is not None and len(tris) == 4  # n-2 triangles
    area = sum(abs((b[0] - a[0]) * (c[1] - a[1])
                   - (b[1] - a[1]) * (c[0] - a[0])) / 2
               for a, b, c in tris)
    assert abs(area - 27.0) < 1e-9  # tiles the L exactly
    # degenerate ring -> fallback
    assert ear_clip(np.array([(0.0, 0.0), (1.0, 1.0)])) is None


@pytest.fixture(scope="module")
def pages_geo(spark):
    df = with_geocode(
        spark.read.parquet(f"{DATA_DIR}/pages_sf0.001.parquet")
    ).drop("html", "text")
    df.cache().count()
    return df


# the polygon query whose bbox hosts the over-budget circle probe
CIRCLE_HOST_QID = 4
CIRCLE_QID = 10_000


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _with_circle(spark, queries_df):
    """queries_df plus one 120-vertex circle inscribed in a polygon
    query's bbox."""
    b = queries_df.where(F.col("query_id") == CIRCLE_HOST_QID).first()
    cx, cy = (b["qxmin"] + b["qxmax"]) / 2, (b["qymin"] + b["qymax"]) / 2
    r = min(b["qxmax"] - b["qxmin"], b["qymax"] - b["qymin"]) / 2
    ring = _circle(cx, cy, r)
    row = {**b.asDict(), "query_id": CIRCLE_QID,
           "qxmin": float(ring[:, 0].min()), "qymin": float(ring[:, 1].min()),
           "qxmax": float(ring[:, 0].max()), "qymax": float(ring[:, 1].max()),
           "geometry": bytearray(polygon_wkb(ring))}
    return queries_df.unionByName(
        spark.createDataFrame([row], queries_df.schema))


def test_join_compiled_memo_arrow_paths_agree(spark, pages_geo,
                                              queries_df):
    """The compiled default, the carry-mode Arrow refine
    (broadcast_queries=False) and the over-budget fallback
    (_mixed_refine over driver-side pieces) accept the same pairs."""
    compiled = _rows(spatial_join(pages_geo, queries_df, page_cols=["url"]))
    carry = _rows(spatial_join(pages_geo, queries_df, page_cols=["url"],
                               broadcast_queries=False))
    assert compiled == carry and len(compiled) > 0
    # one over-budget polygon sends the whole set through _mixed_refine
    qs = _with_circle(spark, queries_df)
    fallback = spatial_join(pages_geo, qs, page_cols=["url"])
    assert "MapInPandas" in (
        fallback._jdf.queryExecution().executedPlan().toString())
    got = _rows(fallback)
    assert [r for r in got if r[0] != CIRCLE_QID] == compiled
    assert any(r[0] == CIRCLE_QID for r in got)
    assert got == _rows(spatial_join(pages_geo, qs, page_cols=["url"],
                                     broadcast_queries=False))


def test_compiled_join_plan_has_no_python_stage(spark, pages_geo,
                                                queries_df):
    compiled = spatial_join(pages_geo, queries_df, page_cols=["url"])
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan
    assert "BroadcastHashJoin" in plan
    # the compiled predicate must stay a standalone Filter (NOT get
    # merged into the join condition, where its size breaks codegen
    # for the whole stage) — locked by the join line staying small
    bhj = [l for l in plan.splitlines() if "BroadcastHashJoin" in l][0]
    assert "CASE WHEN" not in bhj
    # the carry-mode Arrow path still drives the whole stream through it
    carry = spatial_join(pages_geo, queries_df, page_cols=["url"],
                         broadcast_queries=False)
    assert "MapInPandas" in (
        carry._jdf.queryExecution().executedPlan().toString())


# --- property: compiled == kernel on generated geometries -------------
# Coordinates live on a quarter grid so generated rects can put their
# edges exactly on vertex coordinates (and be zero-area there).
_grid = st.integers(-24, 24).map(lambda i: i / 4)


def _hull(pts):
    """Convex hull (monotone chain), CCW, collinear points dropped."""
    pts = sorted(set(pts))
    if len(pts) < 3:
        return pts

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])) <= 0:
                out.pop()
            out.append(p)
        return out[:-1]
    return half(pts) + half(pts[::-1])


@st.composite
def _convex_ring(draw, x0=-6.0, y0=-6.0, x1=6.0, y1=6.0):
    coord = st.tuples(st.integers(int(x0 * 4), int(x1 * 4)),
                      st.integers(int(y0 * 4), int(y1 * 4)))
    pts = [(a / 4, b / 4) for a, b in
           draw(st.lists(coord, min_size=3, max_size=9))]
    hull = _hull(pts)
    if len(hull) < 3:  # collinear draw: fall back to a fixed triangle
        hull = [(x0, y0), (x1, y0), (x0, y1)]
    return np.array(hull + hull[:1])


@st.composite
def _monotone_ring(draw, x0=-6, width=(3, 8), lo=(-6, -1), hi=(1, 6)):
    """x-monotone ring (bottom chain left to right, top chain back):
    always simple, usually reflex."""
    n = draw(st.integers(*width))
    xs = [(x0 * 4 + 4 * i) / 4 for i in range(n + 1)]
    bottom = [draw(st.integers(lo[0] * 4, lo[1] * 4)) / 4 for _ in xs]
    top = [draw(st.integers(hi[0] * 4, hi[1] * 4)) / 4 for _ in xs]
    ring = list(zip(xs, bottom)) + list(zip(xs[::-1], top[::-1]))
    return np.array(ring + ring[:1])


@st.composite
def _holed(draw):
    # exterior covers [-6, 2] x [-6, 6]; the hole lies inside [-5, 1] x [-4, 4]
    ext = draw(_monotone_ring(x0=-6, width=(8, 8), lo=(-8, -6), hi=(6, 8)))
    hole = draw(st.one_of(
        _convex_ring(-5.0, -4.0, 1.0, 4.0),
        _monotone_ring(x0=-5, width=(2, 6), lo=(-4, -1), hi=(1, 4))))
    return [("poly", [ext, hole])]


_geometries = st.one_of(
    _convex_ring().map(lambda r: [("poly", [r])]),
    _monotone_ring().map(lambda r: [("poly", [r])]),
    _holed(),
    st.tuples(_convex_ring(), _monotone_ring()).map(
        lambda rs: [("poly", [rs[0]]), ("poly", [rs[1] + 3.0])]),
    # few distinct vertices: axis-parallel and zero-length segments
    st.lists(st.tuples(st.integers(-3, 3), st.integers(-3, 3)),
             min_size=1, max_size=6).map(
        lambda pts: [("line", np.array(pts, dtype=np.float64))]),
    st.tuples(_grid, _grid).map(lambda p: [("point", p)]),
)


@st.composite
def _rect_soup(draw, pieces):
    """(rects, n_exact): grid rects (edges on vertex coordinates,
    zero-area included) and zero-area rects AT vertices — the first
    n_exact rows, on which the SAT arithmetic is exact —
    then rects at arbitrary doubles."""
    verts = [tuple(v) for kind, data in pieces for v in (
        [data] if kind == "point" else data if kind == "line"
        else np.concatenate(data))]
    # two in three coordinates are a vertex coordinate
    vx = st.sampled_from([float(v[0]) for v in verts])
    vy = st.sampled_from([float(v[1]) for v in verts])
    xs, ys = st.one_of(vx, vx, _grid), st.one_of(vy, vy, _grid)
    rects = []
    for _ in range(draw(st.integers(60, 100))):
        a, b, c, d = draw(xs), draw(xs), draw(ys), draw(ys)
        rects.append((min(a, b), min(c, d), max(a, b), max(c, d)))
    for x, y in draw(st.lists(st.sampled_from(verts), max_size=4)):
        rects.append((float(x), float(y), float(x), float(y)))
    n_exact = len(rects)
    free = st.floats(-7.0, 7.0, allow_nan=False)
    for _ in range(draw(st.integers(0, 8))):
        a, b, c, d = (draw(free) for _ in range(4))
        rects.append((min(a, b), min(c, d), max(a, b), max(c, d)))
    return np.array(rects, dtype=np.float64), n_exact


# how far an arbitrary-double rect may sit from the geometry and
# still differ: the kernels' 1e-12 on-edge shell, plus float rounding
_SHELL = 2e-12


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_compiled_predicate_matches_kernel_property(spark, data):
    pieces = data.draw(_geometries)
    rects, n_exact = data.draw(_rect_soup(pieces))
    r = tuple(rects.T)
    grown = (r[0] - _SHELL, r[1] - _SHELL, r[2] + _SHELL, r[3] + _SHELL)
    rows = [tuple(float(v) for v in row)
            for row in np.column_stack(r + grown)]
    df = spark.createDataFrame(
        rows, "xmin double, ymin double, xmax double, ymax double, "
              "gx0 double, gy0 double, gx1 double, gy1 double")
    pieces_expr = compile_pieces_predicate(pieces, "xmin", "ymin",
                                           "xmax", "ymax")
    geom_expr = geometry_predicate(pieces, "xmin", "ymin", "xmax", "ymax")
    grown_expr = compile_pieces_predicate(pieces, "gx0", "gy0", "gx1", "gy1")
    got = np.array([tuple(row) for row in df.select(
        pieces_expr[0], geom_expr[0], grown_expr[0]).collect()],
        dtype=bool).reshape(-1, 3)
    expected = rects_intersect_pieces(*r, pieces)
    # the inscribed-cover accept adds no row the SAT test rejects
    assert np.array_equal(got[:, 0], got[:, 1])
    diff = got[:, 0] != expected
    # on exact grid rects, touching included, the verdicts are equal
    assert not diff[:n_exact].any(), rects[:n_exact][diff[:n_exact]]
    # elsewhere a differing rect lies in the on-edge shell: both sides
    # accept it once grown by the shell width
    assert np.all(got[diff, 2]), rects[diff & ~got[:, 2]]
    assert np.all(rects_intersect_pieces(*grown, pieces)[diff])


@given(st.data())
@settings(max_examples=15, deadline=None)
def test_search_intersects_equals_join_refine_property(spark, data):
    """Search ``intersects`` and the spatial join's refine accept the
    same item rects for the same generated geometry — points, lines,
    in-budget polygons and the over-budget circle (join: _mixed_refine,
    search: the Arrow UDF Column) included."""
    pieces = data.draw(st.one_of(_geometries, st.just(CIRCLE)))
    rects, _ = data.draw(_rect_soup(pieces))
    pages = spark.createDataFrame(
        [(i, *map(float, r)) for i, r in enumerate(rects)],
        "rid int, xmin double, ymin double, xmax double, ymax double")
    wkb = _pieces_wkb(pieces)
    kind = "point" if pieces[0][0] == "point" else "polygon"
    queries = spark.createDataFrame(
        [(1, kind, *wkb_bounds(wkb), bytearray(wkb))],
        "query_id long, kind string, qxmin double, qymin double, "
        "qxmax double, qymax double, geometry binary")
    joined = {r["rid"] for r in spatial_join(
        pages, queries, res=5, page_cols=["rid"]).collect()}
    items = pages.select("rid", F.struct("xmin", "ymin", "xmax", "ymax")
                         .alias("bbox"))
    searched = {r["rid"] for r in build_plan(
        items, Search(intersects=wkb)).collect()}
    assert searched == joined
