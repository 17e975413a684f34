"""Column-compiled geometry predicate (geo/colgeom.py): accept-set
equality vs the numpy kernels (exact closed-set SAT — identical
outside the kernels' 1e-12 on-edge shell, which random + exact-
boundary soups never probe) for the join and for search
`intersects`, spatial_join path equivalence, budget fallback,
ear-clip triangulation, and the zero-Python plan shape the
compilation exists for."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rustac_spark import DATA_DIR
from rustac_spark.geo.colgeom import (DEFAULT_VERTEX_BUDGET,
                                      compile_pieces_predicate,
                                      compile_refine_predicate)
from rustac_spark.geo.join import spatial_join
from rustac_spark.geo.predicates import rects_intersect_pieces
from rustac_spark.geo.wkbio import (geometrycollection_wkb, linestring_wkb,
                                    point_wkb, polygon_wkb)
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

GEOMS = [IRREGULAR, WITH_HOLE, MULTI, LINE, POINT, RECTILINEAR]


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
                      [2.5, 2.5, 2.5, 2.5], [10.0, 10.0, 12.0, 12.0]])
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
        pieces, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))
    assert compiled is not None
    expr, nodes = compiled
    assert nodes > 0
    got_rows = (df.withColumn("hit", expr)
                .orderBy("rid").select("hit").collect())
    got = np.array([r["hit"] for r in got_rows])
    assert np.array_equal(got, expected)


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
        [("poly", [big_ring])], F.lit(0.0), F.lit(0.0),
        F.lit(1.0), F.lit(1.0)) is None
    # refine compile is all-or-nothing: one over-budget query kills it
    assert compile_refine_predicate(
        {1: IRREGULAR, 2: [("poly", [big_ring])]},
        F.lit(1), F.lit("polygon"), F.lit(0.0), F.lit(0.0),
        F.lit(1.0), F.lit(1.0)) is None


def test_node_budget_returns_none(spark):
    # many in-budget queries can still exceed the generated-code cap
    many = {q: IRREGULAR for q in range(200)}
    assert compile_refine_predicate(
        many, F.lit(1), F.lit("polygon"), F.lit(0.0),
        F.lit(0.0), F.lit(1.0), F.lit(1.0)) is None


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
