"""kNN: nearest pages per query point (north-rule operator; the
reference has no kNN — SURVEY.md §2.3).

Two physical strategies behind one semantic:

- ``knn_bruteforce`` — exact: broadcast the (small) query side,
  pure-Column haversine, per-query top-k via Window row_number.
  O(pages × queries); the correctness baseline and the right plan
  when |queries| is small (Catalyst keeps everything codegen'd,
  the only shuffle is the final per-query top-k, pre-shrunk by a
  per-partition top-k push-down).
- ``knn_cells`` — the 10^12-row scale path: candidates only from the
  query cell's expanding k-ring (h3.grid_disk-equivalent), distance
  re-rank on candidates. Ring radius chosen so the disk provably
  contains ≥k pages' anchors under a density floor; falls back to a
  wider ring when a query underflows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from .cells import (DEFAULT_RES, cell_of_point, cell_size_deg, cover_bbox,
                    k_ring)

EARTH_RADIUS_KM = 6371.0088

# Half the earth's circumference: a search radius at or beyond this
# covers every point, so the banded redo is provably complete.
_HALF_EARTH_KM = math.pi * EARTH_RADIUS_KM

# First escalation radius for underflow queries (km). Conservative
# floor: dense corpora satisfy the first iteration outright; sparse
# regions escalate ×4 per round (≤5 rounds to whole-earth coverage).
UNDERFLOW_DMAX0_KM = 250.0

# Queries whose ring disk reaches this latitude get LAT-BAND candidate
# cells (cover_bbox over the full longitude circle, ±dmax0/111° of
# latitude) instead of the k-ring IN THE SAME candidate join: at high
# |lat| the ring's guaranteed radius collapses with cos(lat), so the
# ring path would flag a redo on effectively every call — the band
# makes the common polar case single-job too.
BAND_LAT_DEG = 80.0


def haversine_km(lat1, lon1, lat2, lon2):
    """Pure-Column haversine distance (km)."""
    dphi = F.radians(lat2 - lat1) / 2.0
    dlmb = F.radians(lon2 - lon1) / 2.0
    a = (F.sin(dphi) * F.sin(dphi)
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
         * F.sin(dlmb) * F.sin(dlmb))
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def _band_pred(qlon: float, qlat: float, dmax: float):
    """Driver-literal lat/lon band containing the whole disk of radius
    `dmax` km around (qlon, qlat) — plain range predicates that push
    into the parquet scan. Same formulas as knn_bruteforce_bounded
    (which re-checks per candidate), so this scan-side prune is a
    superset of the join-side band and never drops a true candidate."""
    if dmax >= _HALF_EARTH_KM:
        return F.lit(True)
    dlat = dmax / 111.0
    band_lat = min(89.9999, abs(qlat) + dlat)
    dlon = min(360.0, dmax / (111.0 * math.cos(
        math.radians(band_lat))) * (math.pi / 2.0))
    return ((F.col("lat") >= qlat - dlat)
            & (F.col("lat") <= qlat + dlat)
            & (((F.col("lon") >= qlon - dlon)
                & (F.col("lon") <= qlon + dlon))
               | (F.col("lon") >= qlon + 360.0 - dlon)
               | (F.col("lon") <= qlon - 360.0 + dlon)))


def _redo_underflow(pages: DataFrame, pending: list[tuple[int, float, float]],
                    k: int, dmax0: float) -> tuple[list, int]:
    """Exact kNN for queries whose ring disk held < k candidates,
    WITHOUT an unbounded full-table rescan: run the bounded
    brute-force over an escalating per-query radius, accepting a
    query once its found k-th distance is ≤ the radius (every page
    outside the radius-`d` band is > d away since great-circle
    distance ≥ 111.195 km per degree of latitude — the band provably
    contains the true top-k), else widen ×4. Each iteration's scan is
    pruned by the driver-literal OR of the pending bands, so a sparse
    polar probe costs a few small banded scans instead of a second
    full scan of pages. Terminates at half-earth radius (band = the
    whole table → unconditionally exact).

    Returns (accepted Row list in knn output shape, iterations)."""
    spark = pages.sparkSession
    dmax = {qid: dmax0 for qid, _, _ in pending}
    accepted: list = []
    iters = 0
    while pending:
        iters += 1
        pred = _band_pred(*pending[0][1:], dmax[pending[0][0]])
        for qid, qlon, qlat in pending[1:]:
            pred = pred | _band_pred(qlon, qlat, dmax[qid])
        q = F.broadcast(spark.createDataFrame(
            [(qid, qlon, qlat, min(dmax[qid], _HALF_EARTH_KM))
             for qid, qlon, qlat in pending],
            "query_id long, qxmin double, qymin double, dmax double"))
        got = knn_bruteforce_bounded(pages.where(pred), q, k).collect()
        per: dict[int, list] = {}
        for r in got:
            per.setdefault(r["query_id"], []).append(r)
        nxt = []
        for qid, qlon, qlat in pending:
            rows_q = per.get(qid, [])
            kth = max((r["dist_km"] for r in rows_q), default=None)
            if dmax[qid] >= _HALF_EARTH_KM or (
                    len(rows_q) == k and kth is not None
                    and kth <= dmax[qid]):
                accepted.extend(rows_q)
            else:
                dmax[qid] = min(dmax[qid] * 4.0, _HALF_EARTH_KM)
                nxt.append((qid, qlon, qlat))
        pending = nxt
    return accepted, iters


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_km").asc(), F.col("url").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def knn_bruteforce(pages: DataFrame, queries: DataFrame, k: int = 5,
                   ) -> DataFrame:
    """Exact kNN. pages: url/lat/lon; queries: query_id/qxmin(=lon)/
    qymin(=lat) point rows. → (query_id, rank, url, dist_km)."""
    q = F.broadcast(queries.select(
        "query_id",
        F.col("qxmin").alias("qlon"), F.col("qymin").alias("qlat")))
    cand = (pages.select("url", "lat", "lon")
            .join(q)  # broadcast nested-loop: queries side is tiny
            .withColumn("dist_km", haversine_km(
                F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon"))))
    return _rank_topk(cand, k).select("query_id", "rank", "url", "dist_km")


def knn_cells(pages: DataFrame, queries: DataFrame, k: int = 5,
              res: int = DEFAULT_RES, rings: int = 4,
              stats_out: dict | None = None) -> DataFrame:
    """Cell-pruned kNN (scale path): candidates = pages whose anchor
    cell lies within `rings` of the query's cell, then exact re-rank.

    Exactness bound: the disk of `rings` cells contains every page
    within (rings-1)·min_cell_edge degrees of the query, scaled per
    query by cos(lat) for longitude shrinkage. Queries whose ring
    disk reaches |lat| ≥ BAND_LAT_DEG — where that cos scaling
    collapses the guarantee and forced a redo on every call — take a
    full-longitude lat band of cells in the SAME candidate join
    instead. Queries whose k-th neighbour might still lie outside
    their guarantee are re-run exactly over a bounded lat/lon band
    (escalating when the ring underflowed below k candidates, never
    an unbounded rescan).

    Physical shape: the query points (small by contract) are
    collected once up front for the per-query verdicts; candidate
    cells — k-ring or polar lat band — are enumerated by pure Column
    expressions over the queries frame and broadcast into the ONE
    candidate join, which prunes candidates beyond dmax0 and
    projects to (query_id, url, dist_km) before the top-k window's
    exchange (guide §2.3). The candidate
    top-k (≤ |queries|·k rows) is collected ONCE; the ok branch is
    rebuilt with createDataFrame — no persist to leak cached blocks
    into the session (a r3-advice fix). Eager like
    spatio_temporal_join's bound collection.
    """
    dx, dy = cell_size_deg(res)
    base_km = rings * min(dx, dy) * 111.0 * 0.5
    dmax0 = max(UNDERFLOW_DMAX0_KM, 4.0 * base_km)
    band_dlat = dmax0 / 111.0
    pc = pages.select("url", "lat", "lon").withColumn(
        "cell", cell_of_point(F.col("lon"), F.col("lat"), res))
    spark = pages.sparkSession
    qrows = queries.select("query_id", F.col("qxmin").alias("qlon"),
                           F.col("qymin").alias("qlat")).collect()

    # cells are enumerated by pure Column expressions over the
    # queries frame itself — measured this round against two
    # alternatives (driver-enumerated Arrow local frame; Column
    # explode over a createDataFrame local relation): both were
    # 0.06-0.17 s SLOWER per call than broadcasting the exploded
    # queries subtree directly, so the r6 shape stays
    banded_cond = (F.abs(F.col("qlat")) + F.lit(float(rings) * dy)
                   >= F.lit(BAND_LAT_DEG))
    q = (queries.select(
            "query_id",
            F.col("qxmin").alias("qlon"), F.col("qymin").alias("qlat"))
         .withColumn("qcell", cell_of_point(F.col("qlon"),
                                            F.col("qlat"), res))
         .withColumn("cell", F.explode(F.when(
             banded_cond,
             cover_bbox(F.lit(-180.0), F.col("qlat") - F.lit(band_dlat),
                        F.lit(180.0), F.col("qlat") + F.lit(band_dlat),
                        res)
         ).otherwise(k_ring(F.col("qcell"), rings, res))))
         .drop("qcell"))
    cand = (pc.join(F.broadcast(q), "cell")
            .withColumn("dist_km", haversine_km(
                F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")))
            # drop candidates beyond dmax0 BEFORE the top-k exchange:
            # a polar lat band spans every longitude, so most of its
            # members are thousands of km out while the accept rule
            # can never accept a k-th distance above safe ≤ dmax0.
            # Exactness is unchanged on every path: if ≥ k candidates
            # survive, the true top-k all lie within dmax0 (and within
            # the band), so the filtered top-k IS the true top-k
            # whenever the verdict accepts; if < k survive, the query
            # degrades to the exact underflow redo; and a filtered
            # k-th distance still upper-bounds the true k-th for the
            # bounded redo (filtered candidates ⊆ pages). Shuffle and
            # sort sizes drop ~5x on the polar bands (guide §2.3).
            .where(F.col("dist_km") <= F.lit(float(dmax0)))
            # project BEFORE the window's exchange: the rank and the
            # verdicts only need (query_id, url, dist_km) — page and
            # query coordinates would otherwise ride the shuffle and
            # the driver collect for nothing (guide §2.3)
            .select("query_id", "url", "dist_km"))
    topk_df = _rank_topk(cand, k)
    topk_schema = topk_df.schema
    topk_rows = topk_df.collect()

    # safe radius: (rings) cells minus one diagonal. 1° of longitude is
    # 111·cos(lat) km, so the equatorial bound overstates coverage at
    # high latitude (a 39 km disk at 84° spans ~10 cells of longitude,
    # far outside the ring) — scale ring queries by the WORST latitude
    # the ring can reach. Banded queries' guarantee is the band radius
    # itself: every page outside the ±dmax0/111° lat band is provably
    # > dmax0 km away (great-circle distance ≥ 111.195 km/° of lat).
    stats: dict[int, tuple[int, float | None]] = {}
    for r in topk_rows:
        n, dmax = stats.get(r["query_id"], (0, None))
        d = r["dist_km"]
        stats[r["query_id"]] = (
            n + 1, d if dmax is None else max(dmax, d))
    flagged: dict[int, float | None] = {}
    bands: list[tuple[float, float, float]] = []  # (qlon, qlat, dmax)
    n_banded = 0
    for r in qrows:
        n, dmax = stats.get(r["query_id"], (0, None))
        if abs(r["qlat"]) + rings * dy >= BAND_LAT_DEG:
            n_banded += 1
            safe = dmax0
        else:
            worst = min(90.0, abs(r["qlat"]) + rings * dy)
            safe = base_km * math.cos(math.radians(worst))
        if n < k:
            # underflow: dmax is only the n-th distance, no valid
            # bound — escalating banded redo below
            flagged[r["query_id"]] = None
        elif dmax > safe:
            # full top-k: its k-th distance bounds the true k-th
            # (candidates ⊆ pages) — re-run over that band only
            flagged[r["query_id"]] = float(dmax)
            bands.append((r["qlon"], r["qlat"], float(dmax)))
    # per-call diagnostics (driver-side only, no plan change) land in
    # the caller-owned stats_out dict — race-free for concurrent jobs,
    # e.g. the HTTP server on a FAIR pool: how many queries the ring
    # disk satisfied outright, how many needed the bounded-band redo
    # (dmax > safe), how many underflowed (< k candidates → escalating
    # banded redo), and the underflow redo's escalation iterations
    stats_dict = {
        "queries": len(qrows),
        "banded": n_banded,
        "ok": len(qrows) - len(flagged),
        "redo_bounded": len(bands),
        "redo_underflow": len(flagged) - len(bands),
    }
    if stats_out is not None:
        stats_out.clear()
        stats_out.update(stats_dict)
    out_cols = ["query_id", "rank", "url", "dist_km"]
    if not flagged:
        return (spark.createDataFrame(topk_rows, topk_schema)
                .select(*out_cols))
    ok = spark.createDataFrame(
        [r for r in topk_rows if r["query_id"] not in flagged],
        topk_schema)
    parts = [ok.select(*out_cols)]
    if bands:
        # bounded redo (lazy): each band is a DRIVER literal → OR of
        # plain range predicates that push into the parquet scan
        # (row-group skipping on lat/lon stats); the per-candidate
        # in_band check inside knn_bruteforce_bounded re-applies the
        # exact per-query band.
        pred = _band_pred(*bands[0])
        for b in bands[1:]:
            pred = pred | _band_pred(*b)
        bq = queries.join(
            F.broadcast(spark.createDataFrame(
                [(q, d) for q, d in flagged.items() if d is not None],
                "query_id long, dmax double")),
            "query_id")
        parts.append(knn_bruteforce_bounded(pages.where(pred), bq, k))
    underflow = [(r["query_id"], r["qlon"], r["qlat"]) for r in qrows
                 if r["query_id"] in flagged
                 and flagged[r["query_id"]] is None]
    if underflow:
        # underflow redo (eager, bounded): the old path re-ran these
        # UNBOUNDED — a second full scan of pages per call when any
        # sparse/polar probe underflowed. The escalating banded redo
        # keeps every rescan pruned to the pending lat/lon bands.
        rows, iters = _redo_underflow(pages, underflow, k, dmax0)
        if stats_out is not None:
            stats_out["underflow_iters"] = iters
        uf_schema = "query_id long, rank int, url string, dist_km double"
        parts.append(spark.createDataFrame(rows, uf_schema) if rows
                     else spark.createDataFrame([], uf_schema))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def knn_bruteforce_bounded(pages: DataFrame, queries: DataFrame,
                           k: int = 5) -> DataFrame:
    """Exact kNN over a per-query search radius `dmax` km (nullable —
    null means unbounded). Same output contract as knn_bruteforce."""
    q = F.broadcast(queries.select(
        "query_id",
        F.col("qxmin").alias("qlon"), F.col("qymin").alias("qlat"),
        F.col("dmax")))
    # |Δlat| ≤ d/R exactly; 111.0 < 111.195 (spherical km/deg) keeps
    # the band conservatively wide
    dlat = F.col("dmax") / F.lit(111.0)
    # longitude width at the band's worst (most poleward) latitude.
    # From haversine: sin(|Δλ|/2) ≤ sin(d/2R)/cos(band_lat), and
    # 2·asin(x) ≤ π·x, so the linear estimate times π/2 is a PROVABLE
    # upper bound for every radius (it degrades to ≥180° exactly when
    # the radius stops constraining longitude at all). Cap at 360°.
    band_lat = F.least(F.lit(89.9999),
                       F.abs(F.col("qlat")) + dlat)
    dlon = F.least(F.lit(360.0),
                   F.col("dmax")
                   / (F.lit(111.0) * F.cos(F.radians(band_lat)))
                   * F.lit(math.pi / 2.0))
    in_band = (F.col("dmax").isNull()
               | ((F.abs(F.col("lat") - F.col("qlat")) <= dlat)
                  & ((F.abs(F.col("lon") - F.col("qlon")) <= dlon)
                     # antimeridian wrap
                     | (F.lit(360.0) - F.abs(F.col("lon") - F.col("qlon"))
                        <= dlon))))
    cand = (pages.select("url", "lat", "lon")
            .join(q)
            .where(in_band)
            .withColumn("dist_km", haversine_km(
                F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon"))))
    return _rank_topk(cand, k).select("query_id", "rank", "url", "dist_km")
