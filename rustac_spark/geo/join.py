"""Cell-indexed distributed spatial join (the engine's core operator).

Converts the spatial-theta predicate ST_Intersects(footprint, query)
— which the reference pushes to single-node DuckDB
(crates/duckdb/src/client.rs:343-359) — into the standard distributed
form (SURVEY.md §2.3; EDBT'25 adaptive-replication pattern):

    equi-join on grid cell  +  residual exact predicate

Scale design (10^12 pages, 1000 executors):
- pages explode to covering cells (pure Column, ≤4 cells/footprint at
  the default resolution) — a narrow transformation, no shuffle;
- the query side is exploded and **broadcast** (query sets are small;
  `F.broadcast` ⇒ BroadcastHashJoin: the 10^12-row side never
  shuffles). For query sets too big to broadcast, pass
  ``broadcast_queries=False`` to fall back to a hash-partitioned
  shuffle join on cell, where AQE's skew-join splitting handles hot
  cells (hot-cell subdivision in pipeline/skew.py);
- duplicate candidates (a pair sharing several cells) are eliminated
  WITHOUT a distinct-shuffle via the reference-point technique: a pair
  is counted only in the cell that contains the top-left corner of the
  bbox-intersection — pure Column math;
- bbox/point queries finish exactly in Column ops (rect overlap is
  exact for our rectangular footprints); irregular polygons take the
  compiled Column predicate (colgeom), and only geometries over its
  budget take the Arrow-batched numpy refine kernel.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import cells as default_grid
from .cells import DEFAULT_RES
from .colgeom import compile_refine_predicate, inscribed_cover
from .predicates import rects_intersect_pieces
from .wkbio import geometry_pieces, parse_wkb

QUERY_COLS = ["query_id", "kind", "qxmin", "qymin", "qxmax", "qymax",
              "geometry"]


def explode_page_cells(pages: DataFrame, res: int = DEFAULT_RES,
                       grid=default_grid) -> DataFrame:
    return pages.withColumn(
        "cell", F.explode(grid.cover_bbox(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), res)))


def explode_query_cells(queries: DataFrame, res: int = DEFAULT_RES,
                        grid=default_grid) -> DataFrame:
    return queries.withColumn(
        "cell", F.explode(grid.cover_bbox(
            F.col("qxmin"), F.col("qymin"), F.col("qxmax"), F.col("qymax"),
            res)))


def _rect_overlap():
    return ((F.col("xmin") <= F.col("qxmax")) & (F.col("xmax") >= F.col("qxmin"))
            & (F.col("ymin") <= F.col("qymax")) & (F.col("ymax") >= F.col("qymin")))


def _reference_point_dedup(res: int, hot: set[int] | None = None,
                           grid=default_grid):
    """Keep a candidate pair only in the cell owning the intersection's
    min corner — exactly-once emission without a distinct shuffle.

    With hot-cell subdivision: the reference point lies in exactly one
    coarse cell; if that cell is hot, it lies in exactly one of its
    children — so 'the cell owning the ref point' stays unique at
    mixed resolutions and exactly-once is preserved.
    """
    rx = F.greatest(F.col("xmin"), F.col("qxmin"))
    ry = F.greatest(F.col("ymin"), F.col("qymin"))
    ref = grid.cell_of_point(rx, ry, res)
    if hot:
        from ..pipeline.skew import hot_membership
        ref = F.when(hot_membership(ref, hot),
                     grid.cell_of_point(rx, ry, res + 1)).otherwise(ref)
    return F.col("cell") == ref


def _mixed_refine(joined: DataFrame,
                  pieces_by_qid: dict[int, list] | None = None,
                  ) -> DataFrame:
    """Exact residual over the mixed candidate stream: non-polygon
    kinds pass through (rect overlap already exact), polygon kinds get
    the rect × polygon kernel. One pass — the pages subplan is never
    duplicated. Arrow-batched; rings parsed once per distinct query
    per batch. The fallback for geometries colgeom cannot compile.

    Two modes:
    - ``pieces_by_qid`` given (broadcast/small query side): geometries
      were captured driver-side, so the candidate stream does NOT
      carry a per-row WKB column — the dominant Arrow payload of the
      refine stage at bench scale. Candidates wholly inside one of a
      polygon's inscribed-cover rects are accepted WITHOUT the kernel.
    - otherwise the carry mode: the stream carries `geometry` per row
      (the shuffle-join fallback, where the query side is too big to
      collect driver-side).
    """
    schema = joined.schema
    inner_by_qid = {q: inscribed_cover(p)
                    for q, p in (pieces_by_qid or {}).items()}

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pieces: dict[int, list] = dict(pieces_by_qid or {})
        carry = pieces_by_qid is None
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            keep = (pdf["kind"] != "polygon").to_numpy()
            for qid in pdf.loc[~keep, "query_id"].unique():
                m = ((pdf["query_id"] == qid)
                     & (pdf["kind"] == "polygon")).to_numpy()
                if qid not in pieces:
                    if not carry:
                        continue  # unknown qid: cannot match
                    pieces[qid] = geometry_pieces(parse_wkb(
                        bytes(pdf.loc[m, "geometry"].iloc[0])))
                x0 = pdf.loc[m, "xmin"].to_numpy()
                y0 = pdf.loc[m, "ymin"].to_numpy()
                x1 = pdf.loc[m, "xmax"].to_numpy()
                y1 = pdf.loc[m, "ymax"].to_numpy()
                res = np.zeros(len(x0), dtype=bool)
                need = np.ones(len(x0), dtype=bool)
                for ir in inner_by_qid.get(qid, []):
                    inside = ((x0 >= ir[0]) & (y0 >= ir[1])
                              & (x1 <= ir[2]) & (y1 <= ir[3]))
                    res[inside] = True
                    need &= ~inside
                if need.any():
                    res[need] = rects_intersect_pieces(
                        x0[need], y0[need], x1[need], y1[need],
                        pieces[qid])
                keep[m] = res
            yield pdf[keep]

    return joined.mapInPandas(refine, schema=schema)


def spatial_join(pages: DataFrame, queries: DataFrame,
                 res: int = DEFAULT_RES,
                 broadcast_queries: bool = True,
                 page_cols: list[str] | None = None,
                 subdivide_threshold: int | None = None,
                 has_polygons: bool | None = None,
                 grid=default_grid) -> DataFrame:
    """pages ⋈_ST_Intersects queries → (query_id, kind, *page_cols).

    pages must carry footprint bbox columns xmin/ymin/xmax/ymax
    (from geocode.with_geocode); queries carry QUERY_COLS.

    If the query set contains no polygons the whole join is pure
    Column math (zero Python). With polygons and a broadcast query
    side the residual is the COMPILED predicate
    (colgeom.compile_refine_predicate over colgeom.geometry_predicate,
    the same predicate search/CQL2 `intersects` use): the multi-rect
    inscribed-cover accept short-circuiting ahead of ear-clip +
    separating-axis blocks — zero Python, zero Arrow, zero eager
    Spark jobs beyond the geometry collect, one action. Only when a
    geometry is over colgeom's budget, or in the
    ``broadcast_queries=False`` carry mode where geometries ride per
    row, does the residual take the Arrow-batched numpy kernel
    (_mixed_refine). Both accept identical candidate sets outside
    the kernel's 1e-12 on-edge shell (tests/test_colgeom.py,
    test_spatial.py).

    Behavior change (round 5): compiled verdicts come from exact
    closed-set separating-axis math — a footprint separated from a
    polygon by < 1e-12 is REJECTED, where the numpy winding kernel's
    on-edge tolerance shell accepts it. SAT is the more correct
    (closed-set) semantics; only borderline inputs inside that shell
    can observe the difference.

    has_polygons: pass True/False to skip the small plan-time probe of
    the query side (a `.limit(1).count()` on the queries table). The
    probe is cheap — queries are small by contract — but it is an
    eager action, so iterative callers that rebuild the join per step
    should supply the flag. Note that with has_polygons=True and a
    broadcast query side the builder still runs ONE bounded eager
    collect (the polygon WKBs, captured driver-side so the candidate
    stream carries no per-row geometry); predicate construction adds
    no further eager work (driver-side SQL-text emission).
    Fully-lazy iterative callers should pass has_polygons=False when
    their probes are rect/point only (action-free plan building).
    """
    page_cols = page_cols or [c for c in pages.columns
                              if c not in ("html", "text")]
    if has_polygons is None:
        has_polygons = bool(
            queries.where(F.col("kind") == "polygon").limit(1).count())

    # with a broadcast (small-by-contract) query side, polygon WKBs
    # are captured driver-side ONCE — the candidate stream then
    # carries no per-row geometry bytes. The shuffle-join fallback
    # keeps the carry-the-WKB-column mode.
    pieces_by_qid: dict[int, list] | None = None
    if has_polygons and broadcast_queries:
        pieces_by_qid = {
            r["query_id"]: geometry_pieces(parse_wkb(bytes(r["geometry"])))
            for r in (queries.where(F.col("kind") == "polygon")
                      .select("query_id", "geometry").collect())}

    carry_geometry = has_polygons and pieces_by_qid is None
    qcols = QUERY_COLS if carry_geometry else [c for c in QUERY_COLS
                                               if c != "geometry"]
    p = explode_page_cells(pages.select(*dict.fromkeys(
        page_cols + ["xmin", "ymin", "xmax", "ymax"])), res, grid)
    q = explode_query_cells(queries.select(*qcols), res, grid)

    hot: set[int] | None = None
    if subdivide_threshold is not None:
        if grid is not default_grid:
            raise NotImplementedError(
                "adaptive subdivision is implemented for the default grid")
        # adaptive subdivision (pipeline/skew.py): hot cells re-cover
        # at res+1 on BOTH sides so the equi-join keys stay aligned.
        # The collect is capped at the MAX_HOT_CELLS hottest (top-k =
        # TakeOrdered, no full sort) — leaving a tail cell unsplit only
        # costs balance, never correctness.
        from ..pipeline.skew import MAX_HOT_CELLS, hot_cells, subdivide_cover
        hot = {r["cell"] for r in
               hot_cells(p, subdivide_threshold)
               .orderBy(F.col("n").desc()).limit(MAX_HOT_CELLS)
               .collect()}
        if hot:
            p = subdivide_cover(p, hot, res)
            q = subdivide_cover(q.withColumnsRenamed(
                    {"qxmin": "xmin", "qymin": "ymin",
                     "qxmax": "xmax", "qymax": "ymax"}), hot, res) \
                .withColumnsRenamed(
                    {"xmin": "qxmin", "ymin": "qymin",
                     "xmax": "qxmax", "ymax": "qymax"})

    if broadcast_queries:
        q = F.broadcast(q)

    joined = (p.join(q, "cell")
              .where(_rect_overlap())
              .where(_reference_point_dedup(res, hot, grid)))
    if has_polygons:
        refined = None
        if pieces_by_qid is not None:
            refined = compile_refine_predicate(
                pieces_by_qid, "query_id", "kind",
                "xmin", "ymin", "xmax", "ymax")
        joined = (joined.where(refined) if refined is not None
                  else _mixed_refine(joined, pieces_by_qid))
    out_cols = ["query_id", "kind"] + page_cols
    return joined.select(*out_cols)


def spatio_temporal_join(pages: DataFrame, queries: DataFrame,
                         res: int = DEFAULT_RES,
                         ts_col: str = "warc_ts",
                         has_polygons: bool | None = None) -> DataFrame:
    """Spatial join + STAC datetime-interval filter on the page
    timestamp (a page is an instant item: interval [ts, ts], both
    bounds inclusive — reference crates/core/src/item.rs:527-554).

    The per-query interval strings are parsed driver-side (the query
    set is small by contract) with the reference-semantics parser and
    joined back in as literal bounds, so the temporal predicate stays
    a pure Column expression.
    """
    from ..stac.datetime_parse import parse_interval

    qrows = queries.select("query_id", "datetime").collect()
    bounds = []
    for r in qrows:
        if r["datetime"] is None:
            bounds.append((r["query_id"], None, None))
        else:
            s, e = parse_interval(r["datetime"])
            bounds.append((r["query_id"],
                           s.replace(tzinfo=None) if s else None,
                           e.replace(tzinfo=None) if e else None))
    spark = pages.sparkSession
    bdf = F.broadcast(spark.createDataFrame(
        bounds, "query_id long, t_start timestamp, t_end timestamp"))
    sj = spatial_join(pages, queries, res=res, has_polygons=has_polygons)
    return (sj.join(bdf, "query_id")
            .where((F.col("t_start").isNull() | (F.col(ts_col) >= F.col("t_start")))
                   & (F.col("t_end").isNull() | (F.col(ts_col) <= F.col("t_end")))))
