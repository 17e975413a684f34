"""Spatial layer: cells, join (vs independent DuckDB / winding-number
oracles), kNN, tiles."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from rustac_spark import DATA_DIR
from rustac_spark.geo import cells
from rustac_spark.geo.join import spatial_join
from rustac_spark.geo.knn import knn_bruteforce, knn_cells
from rustac_spark.geo.tiles import explode_tiles
from rustac_spark.geo.wkbio import parse_wkb
from rustac_spark.geocode import with_geocode
from scalar_oracles import cell_decode_py

PAGES = f"{DATA_DIR}/pages_sf0.001.parquet"
GEO = f"{DATA_DIR}/pages_geo_sf0.001.parquet"
QUERIES = f"{DATA_DIR}/queries.parquet"


@pytest.fixture(scope="module")
def pages_geo(spark):
    df = with_geocode(spark.read.parquet(PAGES)).drop("html", "text")
    df.cache().count()
    return df


def test_geocode_matches_committed_expectation(pages_geo):
    """The committed pages_geo parquet is the oracle for the engine's
    live geocode UDF — full row equality."""
    got = {r["url"]: (r["lat"], r["lon"], r["xmin"], r["ymax"])
           for r in pages_geo.collect()}
    exp = duckdb.sql(f"SELECT url, lat, lon, xmin, ymax "
                     f"FROM read_parquet('{GEO}')").fetchall()
    assert len(got) == len(exp)
    for url, lat, lon, xmin, ymax in exp:
        g = got[url]
        assert g == (lat, lon, xmin, ymax)


def test_cell_cover_contains_point_cell(spark):
    df = spark.range(1).select(
        F.lit(12.3).alias("x"), F.lit(45.6).alias("y"))
    row = df.select(
        cells.cell_of_point(F.col("x"), F.col("y")).alias("pc"),
        cells.cover_bbox(F.col("x") - 0.5, F.col("y") - 0.5,
                         F.col("x") + 0.5, F.col("y") + 0.5).alias("cov"),
    ).collect()[0]
    assert row["pc"] in row["cov"]
    res, x, y = cell_decode_py(row["pc"])
    assert res == cells.DEFAULT_RES


def test_k_ring_and_children(spark):
    df = spark.range(1).select(
        cells.cell_of_point(F.lit(0.1), F.lit(0.1)).alias("c"))
    row = df.select(
        cells.k_ring(F.col("c"), 1).alias("ring"),
        cells.children(F.col("c"), cells.DEFAULT_RES).alias("kids"),
        "c").collect()[0]
    assert len(row["ring"]) == 9 and row["c"] in row["ring"]
    assert len(row["kids"]) == 4
    for kid in row["kids"]:
        r, x, y = cell_decode_py(kid)
        assert r == cells.DEFAULT_RES + 1


def _oracle_pairs_rect(kind: str) -> set:
    sql = f"""
      SELECT q.query_id, g.url
      FROM read_parquet('{QUERIES}') q, read_parquet('{GEO}') g
      WHERE q.kind = '{kind}'
        AND g.xmin <= q.qxmax AND g.xmax >= q.qxmin
        AND g.ymin <= q.qymax AND g.ymax >= q.qymin
    """
    return set(map(tuple, duckdb.sql(sql).fetchall()))


def _winding_inside(px, py, ring):
    """Independent PIP oracle (winding number; engine uses ray casting)."""
    wn = np.zeros(px.shape)
    r = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
    n = len(r)
    for i in range(n):
        x1, y1 = r[i]
        x2, y2 = r[(i + 1) % n]
        left = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
        wn += np.where((y1 <= py) & (y2 > py) & (left > 0), 1, 0)
        wn -= np.where((y1 > py) & (y2 <= py) & (left < 0), 1, 0)
    return wn != 0


def _oracle_pairs_polygon() -> set:
    qs = duckdb.sql(f"SELECT query_id, geometry FROM read_parquet('{QUERIES}')"
                    " WHERE kind='polygon'").fetchall()
    g = duckdb.sql(f"SELECT url, xmin, ymin, xmax, ymax, lat, lon "
                   f"FROM read_parquet('{GEO}')").df()
    out = set()
    for qid, wkb in qs:
        ring = parse_wkb(bytes(wkb))[1][0]
        # sample-based exact check: rect corners/centre in polygon OR
        # polygon vertex in rect OR edge crossing — replicate via dense
        # sampling of the rect boundary + winding PIP (independent of
        # the engine's Liang-Barsky/ray-casting path)
        hit = np.zeros(len(g), dtype=bool)
        for fx in np.linspace(0, 1, 9):
            for fy in np.linspace(0, 1, 9):
                px = g["xmin"] + fx * (g["xmax"] - g["xmin"])
                py = g["ymin"] + fy * (g["ymax"] - g["ymin"])
                hit |= _winding_inside(px.to_numpy(), py.to_numpy(), ring)
        # plus polygon vertex inside rect
        for vx, vy in ring:
            hit |= ((g["xmin"] <= vx) & (vx <= g["xmax"])
                    & (g["ymin"] <= vy) & (vy <= g["ymax"])).to_numpy()
        out |= {(qid, u) for u in g.loc[hit, "url"]}
    return out


def test_spatial_join_bbox_and_point_vs_duckdb(spark, pages_geo, queries_df):
    out = spatial_join(pages_geo, queries_df)
    got = {(r["query_id"], r["url"])
           for r in out.where(F.col("kind") != "polygon").collect()}
    exp = _oracle_pairs_rect("bbox") | _oracle_pairs_rect("point")
    assert got == exp
    assert len(got) > 0


def test_spatial_join_polygon_superset_of_sampled_oracle(
        spark, pages_geo, queries_df):
    out = spatial_join(pages_geo, queries_df)
    got = {(r["query_id"], r["url"])
           for r in out.where(F.col("kind") == "polygon").collect()}
    exp = _oracle_pairs_polygon()
    # sampling can only under-approximate edge-crossing-only hits:
    # engine result must contain every sampled hit, and any extras must
    # be genuine near-boundary cases (bbox overlap at minimum)
    assert exp <= got
    rect_prefilter = _oracle_pairs_polygon_bbox_superset()
    assert got <= rect_prefilter
    assert len(got) > 0


def _oracle_pairs_polygon_bbox_superset() -> set:
    return _oracle_pairs_rect("polygon")


def test_spatial_join_no_duplicates(spark, pages_geo, queries_df):
    out = spatial_join(pages_geo, queries_df).groupBy(
        "query_id", "url").count().where(F.col("count") > 1)
    assert out.count() == 0


def test_knn_bruteforce_vs_duckdb(spark, pages_geo, queries_df):
    qpts = queries_df.where(F.col("kind") == "point").limit(10)
    got = {(r["query_id"], r["rank"], r["url"])
           for r in knn_bruteforce(pages_geo, qpts, k=5).collect()}
    sql = f"""
      WITH q AS (SELECT query_id, qxmin qlon, qymin qlat
                 FROM read_parquet('{QUERIES}') WHERE kind='point'
                 ORDER BY query_id LIMIT 10),
      d AS (SELECT q.query_id, g.url,
              2*6371.0088*asin(sqrt(
                pow(sin(radians(g.lat-q.qlat)/2),2)
                + cos(radians(q.qlat))*cos(radians(g.lat))
                  *pow(sin(radians(g.lon-q.qlon)/2),2))) dist
            FROM q, read_parquet('{GEO}') g)
      SELECT query_id, rank, url FROM (
        SELECT query_id, url,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, url) rank
        FROM d) WHERE rank <= 5
    """
    exp = set(map(tuple, duckdb.sql(sql).fetchall()))
    assert got == exp


def test_knn_cells_matches_bruteforce(spark, pages_geo, queries_df):
    qpts = queries_df.where(F.col("kind") == "point").limit(10)
    a = {(r["query_id"], r["rank"], r["url"])
         for r in knn_cells(pages_geo, qpts, k=5).collect()}
    b = {(r["query_id"], r["rank"], r["url"])
         for r in knn_bruteforce(pages_geo, qpts, k=5).collect()}
    assert a == b


def test_knn_cells_polar_fixture_queries(spark, pages_geo, queries_df):
    """The fixture's ±84° probes (query_id ≥ 60) must stay exact —
    the equatorial safe-radius bound silently returned non-exact
    top-k above ~±76° (round-2 VERDICT What's-wrong #2)."""
    qpts = queries_df.where((F.col("kind") == "point")
                            & (F.col("query_id") >= 60))
    assert qpts.count() == 3
    a = {(r["query_id"], r["rank"], r["url"])
         for r in knn_cells(pages_geo, qpts, k=5).collect()}
    b = {(r["query_id"], r["rank"], r["url"])
         for r in knn_bruteforce(pages_geo, qpts, k=5).collect()}
    assert a == b


def test_knn_cells_polar_adversarial(spark):
    """Crafted case where the old equatorial bound was provably wrong:
    at lat 84° the 4-ring reaches only ~16 km of longitude, so the
    true 2nd-nearest page (20.9 km due east, 5 cells away) is outside
    the ring while an in-ring page 33 km south fills the top-k. The
    old 39 km bound saw dmax=33<39 and skipped the fallback; the
    cos-scaled bound flags the query and re-runs it exactly."""
    qlat, qlon = 84.0, 0.0
    pages = spark.createDataFrame(
        [("near", qlat, qlon + 0.30),        # ~3.5 km E, in-cell ring
         ("ring_far", qlat - 0.30, qlon),    # ~33 km S, inside ring
         ("out_close", qlat, qlon + 1.80)],  # ~20.9 km E, OUTSIDE ring
        "url string, lat double, lon double")
    queries = spark.createDataFrame(
        [(0, qlon, qlat)], "query_id long, qxmin double, qymin double")
    got = [r["url"] for r in knn_cells(pages, queries, k=2)
           .orderBy("rank").collect()]
    assert got == ["near", "out_close"]


def test_knn_cells_underflow_escalating_redo(spark):
    """n < k means the candidate dmax is NOT a k-th-distance bound:
    the redo escalates its banded radius until provably complete
    (multiple iterations here — page b is ~12,900 km away, far past
    the first 250 km band) and still finds every page."""
    pages = spark.createDataFrame(
        [("a", 10.0, 10.0), ("b", -40.0, 120.0)],
        "url string, lat double, lon double")
    queries = spark.createDataFrame(
        [(0, 0.0, 0.0)], "query_id long, qxmin double, qymin double")
    stats: dict = {}
    got = [r["url"] for r in knn_cells(pages, queries, k=5,
                                       stats_out=stats)
           .orderBy("rank").collect()]
    exp = [r["url"] for r in knn_bruteforce(pages, queries, k=5)
           .orderBy("rank").collect()]
    assert got == exp and len(got) == 2
    assert stats["redo_underflow"] == 1
    assert stats["underflow_iters"] > 1


def test_knn_cells_polar_band_single_join(spark, pages_geo, queries_df):
    """Polar probes (|lat| near 90) take lat-band candidate cells in
    the SAME join — no redo of any kind — and stay exact. This locks
    the single-job plan shape for the bench probe set."""
    qpts = queries_df.where(F.col("kind") == "point")
    stats: dict = {}
    got = {(r["query_id"], r["rank"]): r["url"]
           for r in knn_cells(pages_geo, qpts, k=5,
                              stats_out=stats).collect()}
    exp = {(r["query_id"], r["rank"]): r["url"]
           for r in knn_bruteforce(pages_geo, qpts, k=5).collect()}
    assert got == exp
    assert stats["banded"] >= 3           # the three polar probes
    assert stats["ok"] == stats["queries"]  # zero redo


def test_knn_bounded_band_wraps_antimeridian(spark):
    """The bounded exact pass's longitude band must wrap ±180°."""
    from rustac_spark.geo.knn import knn_bruteforce_bounded
    pages = spark.createDataFrame(
        [("west", 0.0, -179.9), ("far", 0.0, 90.0)],
        "url string, lat double, lon double")
    queries = spark.createDataFrame(
        [(0, 179.9, 0.0, 50.0)],
        "query_id long, qxmin double, qymin double, dmax double")
    got = [r["url"] for r in knn_bruteforce_bounded(pages, queries, k=1)
           .collect()]
    assert got == ["west"]  # 0.2° across the antimeridian ≈ 22 km


def test_tiles_vs_duckdb(spark, pages_geo):
    z = 10
    out = explode_tiles(pages_geo.select("url", "xmin", "ymin",
                                         "xmax", "ymax"), z)
    got = {(r["url"], r["tile_x"], r["tile_y"]) for r in out.collect()}
    n = 1 << z
    sql = f"""
      WITH g AS (SELECT url, xmin, ymin, xmax, ymax FROM read_parquet('{GEO}')),
      b AS (SELECT url,
        greatest(0, least({n-1}, CAST(floor((xmin+180)/360*{n}) AS BIGINT))) tx0,
        greatest(0, least({n-1}, CAST(floor((xmax+180)/360*{n}) AS BIGINT))) tx1,
        greatest(0, least({n-1}, CAST(floor((1 - ln(tan(radians(least(85.05112878, greatest(-85.05112878, ymax)))) + 1/cos(radians(least(85.05112878, greatest(-85.05112878, ymax)))))/pi())/2*{n}) AS BIGINT))) ty0,
        greatest(0, least({n-1}, CAST(floor((1 - ln(tan(radians(least(85.05112878, greatest(-85.05112878, ymin)))) + 1/cos(radians(least(85.05112878, greatest(-85.05112878, ymin)))))/pi())/2*{n}) AS BIGINT))) ty1
        FROM g)
      SELECT url, tile_x, unnest(generate_series(ty0, ty1)) tile_y
      FROM (SELECT url, unnest(generate_series(tx0, tx1)) tile_x, ty0, ty1
            FROM b)
    """
    exp = set(map(tuple, duckdb.sql(sql).fetchall()))
    assert got == exp
