"""S2-style face-based hierarchical grid: point cells, conservative
covering vs an independent Python oracle, hierarchy, and spatial-join
equality against the default quadtree grid."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rustac_spark import DATA_DIR
from rustac_spark.geo import s2cells
from rustac_spark.geo.join import spatial_join
from rustac_spark.geocode import with_geocode
from scalar_oracles import s2_decode_py, s2_parent_py

PAGES = f"{DATA_DIR}/pages_sf0.001.parquet"


def _face_of_py(lon, lat):
    if lat >= 45.0:
        return 4
    if lat < -45.0:
        return 5
    if lon >= 180.0:
        return 3
    return int((lon + 180.0) // 90.0)


def _cell_py(lon, lat, level):
    lon = min(180.0, max(-180.0, lon))
    lat = min(90.0, max(-90.0, lat))
    face = _face_of_py(lon, lat)
    lon0, lon1, lat0, lat1 = s2cells.FACE_RECTS[face]
    n = 1 << level
    i = min(n - 1, max(0, int(np.floor((lon - lon0) / (lon1 - lon0) * n))))
    j = min(n - 1, max(0, int(np.floor((lat - lat0) / (lat1 - lat0) * n))))
    return (level << 58) | (face << 54) | (j << 27) | i


def _cover_py(xmin, ymin, xmax, ymax, level):
    out = []
    n = 1 << level
    for face, (lon0, lon1, lat0, lat1) in enumerate(s2cells.FACE_RECTS):
        cx0, cx1 = max(xmin, lon0), min(xmax, lon1)
        cy0, cy1 = max(ymin, lat0), min(ymax, lat1)
        if cx0 > cx1 or cy0 > cy1:
            continue
        lon_hi_ok = (xmin <= lon1) if face == 3 else (xmin < lon1)
        if face < 4 and not (lon_hi_ok and xmax >= lon0
                             and ymin < 45.0 and ymax >= -45.0):
            continue
        if face == 4 and not ymax >= 45.0:
            continue
        if face == 5 and not ymin < -45.0:
            continue

        def idx(v, lo, hi):
            return min(n - 1, max(0, int(np.floor((v - lo) / (hi - lo) * n))))

        for i in range(idx(cx0, lon0, lon1), idx(cx1, lon0, lon1) + 1):
            for j in range(idx(cy0, lat0, lat1), idx(cy1, lat0, lat1) + 1):
                out.append((level << 58) | (face << 54) | (j << 27) | i)
    return sorted(out)


def test_cell_of_point_matches_python_oracle(spark):
    pts = [(-179.9, 0.0), (-91.0, -44.9), (-90.0, 0.0), (0.0, 0.0),
           (89.9, 44.9), (90.0, 45.0), (180.0, 0.0), (0.0, 90.0),
           (0.0, -90.0), (-106.0, 40.5), (13.4, 52.5), (151.2, -33.9)]
    df = spark.createDataFrame(pts, ["lon", "lat"])
    got = [r["c"] for r in df.select(
        s2cells.cell_of_point(F.col("lon"), F.col("lat"), 9).alias("c"))
        .collect()]
    exp = [_cell_py(lon, lat, 9) for lon, lat in pts]
    assert got == exp
    # decode roundtrip + face sanity
    for (lon, lat), c in zip(pts, got):
        level, face, i, j = s2_decode_py(c)
        assert level == 9 and face == _face_of_py(min(180.0, lon), lat)


@pytest.mark.parametrize("level", [7, 9])
def test_cover_bbox_matches_python_oracle(spark, level):
    rects = [
        (-106.1, 40.5, -106.0, 40.6),      # inside one equatorial face
        (-1.0, -1.0, 1.0, 1.0),            # straddles two faces at lon=0
        (-10.0, 43.0, 10.0, 47.0),         # equatorial + polar at lat=45
        (170.0, -50.0, 180.0, 50.0),       # 4 faces at the antimeridian
        (-180.0, 80.0, 180.0, 90.0),       # polar cap band
        (180.0, 0.0, 180.0, 0.0),          # degenerate point ON the
                                           # antimeridian (world edge)
        (179.5, -0.5, 180.0, 0.5),         # rect closing at lon=180
    ]
    df = spark.createDataFrame(rects, ["xmin", "ymin", "xmax", "ymax"])
    got = [sorted(r["cs"]) for r in df.select(
        s2cells.cover_bbox(F.col("xmin"), F.col("ymin"),
                           F.col("xmax"), F.col("ymax"), level)
        .alias("cs")).collect()]
    for rect, cells_got in zip(rects, got):
        exp = _cover_py(*rect, level)
        # Spark covering must be a superset of the exact clip covering
        # and contain no cell outside it plus at most the half-open
        # boundary columns (conservative): here both are computed with
        # the same clip rule, so they are equal
        assert cells_got == exp, rect


def test_cover_contains_point_cell(spark):
    # the covering of any bbox contains the cell of every interior point
    rng = np.random.default_rng(7)
    rows = []
    for _ in range(200):
        lon = float(rng.uniform(-179, 178))
        lat = float(rng.uniform(-89, 88))
        w, h = float(rng.uniform(0.01, 3)), float(rng.uniform(0.01, 3))
        rows.append((lon, lat, lon + w, lat + h))
    df = spark.createDataFrame(rows, ["xmin", "ymin", "xmax", "ymax"])
    bad = df.select(
        s2cells.cover_bbox(F.col("xmin"), F.col("ymin"),
                           F.col("xmax"), F.col("ymax"), 9).alias("cs"),
        s2cells.cell_of_point(
            (F.col("xmin") + F.col("xmax")) / 2,
            (F.col("ymin") + F.col("ymax")) / 2, 9).alias("c"),
    ).where(~F.array_contains("cs", F.col("c"))).count()
    assert bad == 0


def test_children_parent_hierarchy(spark):
    df = spark.createDataFrame([(-106.0, 40.5), (13.4, 52.5)],
                               ["lon", "lat"])
    rows = df.select(
        s2cells.cell_of_point(F.col("lon"), F.col("lat"), 8).alias("c"),
        s2cells.children(
            s2cells.cell_of_point(F.col("lon"), F.col("lat"), 8), 8)
        .alias("kids"),
        s2cells.cell_of_point(F.col("lon"), F.col("lat"), 9).alias("c9"),
    ).collect()
    for r in rows:
        kids = list(r["kids"])
        assert len(kids) == 4 and len(set(kids)) == 4
        # every child decodes to level 9, same face, and parents back
        for kid in kids:
            level, face, i, j = s2_decode_py(kid)
            assert level == 9
            assert s2_parent_py(kid) == r["c"]
        # the level-9 cell of the point is one of the children
        assert r["c9"] in kids


def test_spatial_join_s2_equals_default_grid(spark, queries_df):
    pages = with_geocode(spark.read.parquet(PAGES)).drop("html", "text")
    q = queries_df.where(F.col("kind") != "polygon")
    a = {(r["query_id"], r["url"]) for r in
         spatial_join(pages, q, page_cols=["url"]).collect()}
    b = {(r["query_id"], r["url"]) for r in
         spatial_join(pages, q, page_cols=["url"],
                      res=s2cells.DEFAULT_LEVEL, grid=s2cells).collect()}
    assert a == b and len(a) > 0
    # and at a second resolution (finer level)
    c = {(r["query_id"], r["url"]) for r in
         spatial_join(pages, q, page_cols=["url"],
                      res=11, grid=s2cells).collect()}
    assert a == c
