"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship pipeline on /root/testdata/sf0.001
queries()       — one entry per implemented operator (SURVEY.md §2)
oracle_sql()    — DuckDB-equivalent SQL per query (the correctness gate)

Committed deterministic fixtures (generated by scripts/gen_fixtures.py,
seed-free sha256 functions) live under /root/repo/data so the DuckDB
oracle can read them: pages_sf*, pages_geo_sf* (expected geocode),
queries (spatial probe set), stac_items[_interval] (golden fixture).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

DATA = f"{_REPO}/data"

_shipped = False


def _ensure(spark: SparkSession) -> None:
    """Ship the package to executors (pandas-UDF closures unpickle it)."""
    global _shipped
    if not _shipped:
        from rustac_spark.session import package_zip
        try:
            spark.sparkContext.addPyFile(package_zip())
        except Exception:
            pass  # already added in this context
        _shipped = True


def _pages_path(sf_dir: str) -> str:
    if "sf0.001" in sf_dir:
        return f"{DATA}/pages_sf0.001.parquet"
    if "sf0.1" in sf_dir:  # bench scale — generated on demand (gitignored)
        path = f"{DATA}/runtime/pages_sf0.1.parquet"
        return path if os.path.exists(path) else f"{DATA}/pages_sf0.01.parquet"
    return f"{DATA}/pages_sf0.01.parquet"


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(_pages_path(sf_dir))


_GEO_CACHE: dict[str, DataFrame] = {}


def _pages_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geocoded pages, cached per fixture path: the sha256 geocode UDF
    is the only Python in these queries — materialize it once so the
    driver's correctness sweep doesn't recompute it per query (the
    ingest-once pattern the bench pipeline uses)."""
    from rustac_spark.geocode import with_geocode
    _ensure(spark)
    path = _pages_path(sf_dir)
    # applicationId, not id(spark): id() can be reused after GC, which
    # would alias a fresh session to a stale cached frame.
    key = f"{spark.sparkContext.applicationId}:{path}"
    if key not in _GEO_CACHE:
        df = with_geocode(spark.read.parquet(path)).drop("html", "text")
        df.cache().count()
        _GEO_CACHE[key] = df
    return _GEO_CACHE[key]


def _queries(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(f"{DATA}/queries.parquet")


def _stac(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(f"{DATA}/stac_items.parquet")


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# --------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: load sf0.001 documents, wrap them as Common-Crawl-style
    pages, geocode → cell-cover → spatial-join vs the probe set →
    tile-assign → per-query match/tile stats."""
    _ensure(spark)
    from rustac_spark.geo.join import spatial_join
    from rustac_spark.geo.tiles import explode_tiles
    from rustac_spark.geocode import with_geocode

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("https://d"),
                 F.lpad((F.col("doc_id") % 50).cast("string"), 3, "0"),
                 F.lit(".example.com/p"), F.col("doc_id").cast("string")
                 ).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.col("text"), F.col("lang"))
    geo = with_geocode(pages)
    sj = spatial_join(geo, _queries(spark), page_cols=["url", "warc_ts", "lang"],
                      has_polygons=True)
    tiled = explode_tiles(
        geo.select("url", "xmin", "ymin", "xmax", "ymax"), 6)
    per_query = sj.groupBy("query_id").agg(F.count("*").alias("n_matches"))
    per_tile = (tiled.groupBy("tile_x").agg(F.count("*").alias("n"))
                .agg(F.count("*").alias("n_tiles_x"),
                     F.sum("n").alias("n_assignments")))
    return per_query.crossJoin(per_tile)


# -------------------------------------------------------------- queries

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rustac_spark.extract import with_extracted_text
    from rustac_spark.geo import cells
    from rustac_spark.geo.join import spatial_join, spatio_temporal_join
    from rustac_spark.geo.knn import knn_bruteforce
    from rustac_spark.geo.tiles import explode_tiles
    from rustac_spark.geo.wkbio import point_wkb
    from rustac_spark.ml.ann import (knn_bruteforce as ann_topk,
                                     near_dup_pairs_cosine)
    from rustac_spark.mm.binary_ops import with_binary_meta
    from rustac_spark.stac.search import Search, build_plan
    from rustac_spark.textops.basic import (exact_dedup_groups,
                                            with_text_stats)
    from rustac_spark.textops.minhash import near_dup_pairs
    from rustac_spark.textops.simhash import near_dup_pairs_simhash

    # ---- pages / spatial engine -----------------------------------
    def doc_canonical_urls(spark, sf):
        # crawl URL canonicalization + first-pass dedup gate
        # (textops/basic.canonical_url / dedup_by_canonical_url):
        # derive deterministic messy variants of every page URL (same
        # rewrite in the oracle), canonicalize, and flag the dedup
        # survivor of each canonical group (keep-min rule)
        from rustac_spark.textops.basic import (canonical_url,
                                                dedup_by_canonical_url)
        p = _pages(spark, sf).select("url")
        pid = F.regexp_extract("url", r"p([0-9]+)$", 1).cast("long")
        m = pid % 6
        variant = (
            F.when(m == 0, F.regexp_replace(
                "url", r"^https://", "HTTPS://"))
            .when(m == 1, F.concat("url", F.lit("#frag")))
            .when(m == 2, F.concat(
                "url", F.lit("?utm_source=x&utm_campaign=y")))
            .when(m == 3, F.regexp_replace(
                "url", r"^(https://[^/]+)", r"$1:443"))
            .when(m == 4, F.concat("url", F.lit("/")))
            .otherwise(F.col("url")))
        # the url universe feeds THREE subtrees (the projection, the
        # dedup groupBy and its semi-join probe); without
        # materialization the plan re-scans pages 8x and repeats the
        # distinct exchange 3x (verified: zero ReusedExchange at
        # runtime) — localCheckpoint computes it once per invocation
        # (guide §3.3 "materialise an intermediate"; url-only, tiny)
        urls = (p.unionAll(p.select(variant.alias("url"))).distinct()
                .localCheckpoint(eager=True))
        kept = (dedup_by_canonical_url(urls)
                .withColumn("kept", F.lit(1)))
        return (urls
                .select("url",
                        canonical_url(F.col("url")).alias("canonical"))
                .join(kept.select("url", "kept"), "url", "left")
                .withColumn("kept", F.coalesce("kept", F.lit(0))))

    def doc_curation_e2e(spark, sf):
        # flagship LLM-pipeline composition gate: quality (Gopher +
        # C4) -> exact dedup -> near-dup (threshold 1.01 > max
        # Jaccard: a verified no-op, making the whole composition
        # SQL-twinnable; the live near-dup stage is gated by
        # tests/test_curation.py) -> PII scrub -> chunking, run
        # through the lineage/resume layer. Fixture texts are
        # single-line word salad; inject deterministic sentence
        # structure (same rewrite in the oracle) so C4 has real work.
        import shutil
        import tempfile

        from rustac_spark.pipeline.curation import curate_corpus
        d = spark.read.parquet(_t(sf, "documents")).select(
            "doc_id",
            F.concat(F.replace(F.col("text"), F.lit(" table "),
                               F.lit(".\n")), F.lit(".")).alias("text"))
        td = tempfile.mkdtemp(prefix="curate_gate_")
        out, _report = curate_corpus(spark, d, f"{td}/run",
                                     near_dup_threshold=1.01,
                                     chunk_size=40, chunk_overlap=8)
        out = out.select("doc_id", "chunk_start", "chunk_text",
                         "n_chunk_tokens").localCheckpoint(eager=True)
        shutil.rmtree(td, ignore_errors=True)
        return out

    def spatial_join_polygon(spark, sf):
        # irregular 7-gons (query_id < 60): the winding-number kernel
        # path. Full DuckDB oracle since r4 — the probes are
        # star-shaped around their anchors, so exact rect×polygon is
        # the fan-triangulation OR of separating-axis conjunctions
        # (_star_fan_sql)
        q = _queries(spark).where((F.col("kind") == "polygon")
                                  & (F.col("query_id") < 60))
        return (spatial_join(_pages_geo(spark, sf), q, page_cols=["url"],
                             has_polygons=True)
                .select("query_id", "url"))

    def spatial_join_rectilinear(spark, sf):
        # L-shaped rect-union polygons (query_id 63-67): exercises the
        # same WKB-parse + rect×polygon kernel, but the region is a
        # union of two axis-aligned rects, so DuckDB can gate it with
        # an exact OR-of-rect-overlaps oracle
        q = _queries(spark).where((F.col("kind") == "polygon")
                                  & F.col("query_id").between(63, 67))
        return (spatial_join(_pages_geo(spark, sf), q, page_cols=["url"],
                             has_polygons=True)
                .select("query_id", "url"))

    def spatial_join_convex(spark, sf):
        # irregular CONVEX polygons (query_id >= 68): the full
        # winding-number kernel path, but convexity makes the exact
        # rect×polygon test a separating-axis conjunction of linear
        # inequalities — so this family closes the kernel-level oracle
        # gap (only the truly irregular 7-gons stay rows-only)
        q = _queries(spark).where((F.col("kind") == "polygon")
                                  & (F.col("query_id") >= 68))
        return (spatial_join(_pages_geo(spark, sf), q, page_cols=["url"],
                             has_polygons=True)
                .select("query_id", "url"))

    def spatio_temporal(spark, sf):
        q = _queries(spark).where(
            (F.col("kind") == "bbox") & F.col("datetime").isNotNull())
        return (spatio_temporal_join(
                    _pages_geo(spark, sf), q, has_polygons=False)
                .select("query_id", "url"))

    def knn_cells_q(spark, sf):
        from rustac_spark.geo.knn import knn_cells
        q = _queries(spark).where(F.col("kind") == "point")
        out = knn_cells(_pages_geo(spark, sf), q, k=5)
        return out.select("query_id", "rank", "url",
                          F.round("dist_km", 6).alias("dist_km"))

    def spatial_join_subdivided(spark, sf):
        q = _queries(spark).where(F.col("kind") != "polygon")
        return (spatial_join(_pages_geo(spark, sf), q, page_cols=["url"],
                             subdivide_threshold=2000, has_polygons=False)
                .select("query_id", "url"))

    def tiles_q(spark, sf):
        # raw z10 assignment + z6 aggregated counts, probe-tagged
        # (r4 slot fold — both were long-driver-green singles)
        g = _pages_geo(spark, sf).select("url", "xmin", "ymin",
                                         "xmax", "ymax")
        a = explode_tiles(g, 10).select(
            F.lit("assign_z10").alias("probe"), "url", "tile_z",
            "tile_x", "tile_y",
            F.lit(None).cast("long").alias("n_pages"))
        b = (explode_tiles(g, 6)
             .groupBy("tile_x", "tile_y")
             .agg(F.count("*").alias("n_pages"))
             .select(F.lit("counts_z6").alias("probe"),
                     F.lit(None).cast("string").alias("url"),
                     F.lit(6).cast("int").alias("tile_z"),
                     "tile_x", "tile_y", "n_pages"))
        return a.unionByName(b)

    def doc_dup_spans(spark, sf):
        # duplicated-substring spans; string-keyed (hashed=False) so
        # the DuckDB oracle is bit-exact — the hashed 8-byte-key scale
        # variant is pytest-equal at corpus scale (test_textops)
        from rustac_spark.textops.ngram import dup_ngram_spans
        d = spark.read.parquet(_t(sf, "documents"))
        return dup_ngram_spans(d, n=10, min_count=2, hashed=False)

    def mm_binary_meta(spark, sf):
        return (with_binary_meta(_pages(spark, sf), "html")
                .select("url", "n_bytes", "content_type"))

    def mm_image_decode(spark, sf):
        # real decode gate: synthesize a deterministic solid-color
        # image per doc (dims/color closed-form in doc_id), rotating
        # the codec per doc_id across PPM / BMP / PNG / GIF, push it
        # through the REAL encode → decode_image → feature kernels
        # (mm/codecs.py). The oracle predicts the same values for all
        # three codecs — so every decoder (incl. the from-scratch PNG
        # unfilter path) is driver-oracle-gated.
        import numpy as np
        import pandas as pd
        from rustac_spark.mm.binary_ops import extract_image_features
        from rustac_spark.mm.codecs import (bmp_encode, gif_encode,
                                            png_encode, ppm_encode)
        _ensure(spark)
        d = spark.read.parquet(_t(sf, "documents")).select("doc_id")

        def synth(batches):
            encoders = (ppm_encode, bmp_encode, png_encode, gif_encode)
            for pdf in batches:
                payloads = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    w, h = 4 + did % 13, 4 + (did * 7) % 11
                    rgb = ((did * 3) % 256, (did * 5) % 256,
                           (did * 11) % 256)
                    payloads.append(encoders[did % 4](
                        np.full((h, w, 3), rgb, dtype=np.uint8)))
                yield pd.DataFrame({"url": pdf["doc_id"].astype(str),
                                    "payload": payloads})

        imgs = d.mapInPandas(synth, schema="url string, payload binary")
        feats = extract_image_features(imgs)
        rgb_sum = F.round((F.element_at("features", 1)
                           + F.element_at("features", 2)
                           + F.element_at("features", 3)) * 255)
        return feats.select(
            F.col("url").cast("long").alias("doc_id"),
            "width", "height", "channels",
            rgb_sum.cast("int").alias("rgb_sum"))

    def mm_audio_features(spark, sf):
        # real audio gate: deterministic constant-amplitude PCM per doc
        # (all outputs closed-form in doc_id), through the REAL
        # wav_encode → wav_decode → audio_features kernels
        import numpy as np
        import pandas as pd
        from rustac_spark.mm.binary_ops import extract_audio_features
        from rustac_spark.mm.codecs import wav_encode
        _ensure(spark)
        d = spark.read.parquet(_t(sf, "documents")).select("doc_id")

        def synth(batches):
            for pdf in batches:
                payloads = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    n = 100 + did % 400
                    v = (did * 37) % 30000 - 15000
                    payloads.append(wav_encode(
                        np.full(n, v, dtype=np.int16), 8000))
                yield pd.DataFrame({"url": pdf["doc_id"].astype(str),
                                    "payload": payloads})

        clips = d.mapInPandas(synth, schema="url string, payload binary")
        out = extract_audio_features(clips)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            "n_samples", "n_channels", "sample_rate",
            F.round("duration_s", 6).alias("duration_s"),
            F.round("rms", 6).alias("rms"),
            F.round("zcr", 6).alias("zcr"))

    # ---- STAC search semantics -------------------------------------
    def stac_flagship(spark, sf):
        df = build_plan(_stac(spark), Search(
            bbox=[-106.1, 40.5, -106.0, 40.6], datetime="2024",
            sortby="datetime", fields="+id,+datetime", limit=20))
        return df.select(
            "id", F.date_format("datetime", "yyyy-MM-dd HH:mm:ss")
            .alias("dt"))

    def stac_sort_page(spark, sf):
        return build_plan(_stac(spark), Search(
            sortby="-eo:cloud_cover,id", offset=5, limit=10,
            fields="+id,+eo:cloud_cover")).select(
                "id", F.col("`eo:cloud_cover`").alias("cloud"))

    def stac_collections_extent(spark, sf):
        return (_stac(spark).groupBy("collection")
                .agg(F.min("bbox.xmin").alias("xmin"),
                     F.min("bbox.ymin").alias("ymin"),
                     F.max("bbox.xmax").alias("xmax"),
                     F.max("bbox.ymax").alias("ymax"),
                     F.date_format(F.min(F.coalesce("start_datetime",
                                                    "datetime")),
                                   "yyyy-MM-dd HH:mm:ss").alias("t0"),
                     F.date_format(F.max(F.coalesce("end_datetime",
                                                    "datetime")),
                                   "yyyy-MM-dd HH:mm:ss").alias("t1")))

    # ---- training-data ops on driver tables ------------------------
    def dedup_exact(spark, sf):
        return exact_dedup_groups(
            spark.read.parquet(_t(sf, "documents")))

    def doc_text_stats(spark, sf):
        d = spark.read.parquet(_t(sf, "documents"))
        return with_text_stats(d).select(
            "doc_id", "n_chars", "n_tokens", "punct_ratio",
            "stopword_ratio", "quality", "lang_pred")

    def doc_quality_rules(spark, sf):
        from rustac_spark.textops.quality_rules import with_quality_rules
        d = spark.read.parquet(_t(sf, "documents"))
        return with_quality_rules(d).select(
            "doc_id", "n_tokens", "dup_word_frac", "top_word_frac",
            "top_bigram_frac", "top_trigram_frac", "gopher_pass")

    def doc_chunks(spark, sf):
        from rustac_spark.textops.basic import chunk_tokens
        d = spark.read.parquet(_t(sf, "documents"))
        return chunk_tokens(d, chunk_size=40, overlap=8)

    def doc_pii_scrub(spark, sf):
        # PII redaction gate: inject deterministic email/ip/phone
        # tokens (same rewrite in the oracle), scrub with the pure
        # Column regexps, count each class on the original text
        from rustac_spark.textops.basic import with_pii_scrub
        d = spark.read.parquet(_t(sf, "documents")).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact u"), F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 256).cast("string"), F.lit("."),
                (F.col("doc_id") % 100).cast("string"),
                F.lit(" tel +1555"),
                F.lpad((F.col("doc_id") % 10000).cast("string"),
                       4, "0")).alias("text"))
        return with_pii_scrub(d).select(
            "doc_id", "n_emails", "n_ips", "n_phones", "scrubbed_text")

    def doc_c4_filters(spark, sf):
        # fixture docs are single-line; inject deterministic sentence
        # breaks (same rewrite in the oracle) so the line filter has
        # real work to gate
        from rustac_spark.textops.quality_rules import with_c4_filters
        d = spark.read.parquet(_t(sf, "documents")).select(
            "doc_id",
            F.replace(F.col("text"), F.lit(" table "),
                      F.lit(".\n")).alias("text"))
        return with_c4_filters(d).select(
            "doc_id", "clean_text", "n_lines_total", "n_lines_kept",
            "c4_keep")

    def doc_top_terms(spark, sf):
        from rustac_spark.textops.tfidf import top_terms
        return top_terms(spark.read.parquet(_t(sf, "documents")), k=3)

    def doc_length_quantiles(spark, sf):
        # exact interpolated percentiles (Spark percentile ==
        # DuckDB quantile_cont: pos = p·(n−1), linear interpolation)
        d = spark.read.parquet(_t(sf, "documents"))
        return (d.groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.round(F.percentile("n_chars", F.lit(0.5)), 6)
                      .alias("p50_chars"),
                     F.round(F.percentile("n_chars", F.lit(0.9)), 6)
                      .alias("p90_chars"),
                     F.round(F.percentile("n_chars", F.lit(0.99)), 6)
                      .alias("p99_chars")))

    def doc_sample_stratified(spark, sf):
        from rustac_spark.textops.sampling import stratified_sample
        d = spark.read.parquet(_t(sf, "documents"))
        return stratified_sample(
            d.select("doc_id", "lang", "source"), key_col="doc_id",
            strata_col="lang",
            rates={"en": 0.5, "de": 0.3, "fr": 0.2},
            default_rate=0.1, salt="r3")

    def minhash_near_dups(spark, sf):
        d = spark.read.parquet(_t(sf, "documents"))
        return near_dup_pairs(d, threshold=0.5)

    def simhash_near_dups(spark, sf):
        d = spark.read.parquet(_t(sf, "documents"))
        return near_dup_pairs_simhash(d, max_distance=3)

    def ann_cosine_topk(spark, sf):
        e = spark.read.parquet(_t(sf, "embeddings"))
        q = (e.where(F.col("vec_id") < 10)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("qvec")))
        return ann_topk(e, q, k=5)

    def embedding_near_dups(spark, sf):
        e = spark.read.parquet(_t(sf, "embeddings"))
        return near_dup_pairs_cosine(e, threshold=0.2, block_col="label")

    def embedding_semdedup(spark, sf):
        # SemDeDup retained set, label-blocked so the oracle is the
        # same NOT EXISTS predicate (centroid mode covered by pytest)
        from rustac_spark.ml.ann import semdedup
        e = spark.read.parquet(_t(sf, "embeddings"))
        return (semdedup(e, threshold=0.2, block_col="label")
                .select("vec_id", "label"))

    def events_sessionize(spark, sf):
        from rustac_spark.events import sessionize
        return sessionize(spark.read.parquet(_t(sf, "events")))

    def ngram_jaccard(spark, sf):
        from rustac_spark.textops.ngram import jaccard_pairs
        d = spark.read.parquet(_t(sf, "documents"))
        # max_df=None: the oracle SQL computes the exhaustive join, so
        # the gated query must too (the default skew cap would silently
        # diverge at a SF where a shingle's df exceeds it); the capped
        # mode is covered by tests/test_textops.py
        return jaccard_pairs(d, threshold=0.7, max_df=None)

    def dedup_clusters(spark, sf):
        # connected components over the exact-Jaccard pair graph:
        # (doc_id, cluster_id=component min) for every non-singleton
        # doc — the transitive-closure step every dedup family needs
        from rustac_spark.textops.cluster import dedup_cluster_assignments
        d = spark.read.parquet(_t(sf, "documents"))
        # max_df=None: exhaustive pair generation to match the
        # recursive-CTE oracle exactly; the production default caps
        # candidate shingles at DEFAULT_MAX_DF (tests/test_cluster.py)
        return dedup_cluster_assignments(d, threshold=0.7, max_df=None)

    def dedup_retained(spark, sf):
        # retention = corpus minus non-representative cluster members
        from rustac_spark.textops.cluster import (
            dedup_cluster_assignments, dedup_retain)
        d = spark.read.parquet(_t(sf, "documents"))
        clusters = dedup_cluster_assignments(d, threshold=0.7,
                                             max_df=None)
        return dedup_retain(d, clusters).select("doc_id", "lang")

    def events_asof(spark, sf):
        # AS-OF join (Spark-missing operator): every click gets the
        # latest purchase of the same user at-or-before it; gated by
        # DuckDB's native ASOF LEFT JOIN
        from rustac_spark.events import asof_join
        ev = spark.read.parquet(_t(sf, "events"))
        clicks = ev.where(F.col("event_type") == "click") \
            .select("event_id", "user_id", "ts", "value")
        purchases = ev.where(F.col("event_type") == "purchase") \
            .select("user_id", "ts", "value")
        out = asof_join(clicks, purchases, key_col="user_id",
                        ts_col="ts", right_cols=["value"])
        fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        return out.select(
            "event_id", "user_id",
            F.date_format("ts", fmt).alias("ts"),
            F.round("value", 6).alias("click_value"),
            F.date_format("ts_asof", fmt).alias("purchase_ts"),
            F.round("value_asof", 6).alias("purchase_value"))

    def events_range_join(spark, sf):
        # temporal range join (1-D twin of the cell-indexed spatial
        # join): click × error pairs of the same user within ±2 h
        from rustac_spark.events import range_join
        ev = spark.read.parquet(_t(sf, "events"))
        clicks = ev.where(F.col("event_type") == "click") \
            .select("event_id", "user_id", "ts")
        errors = ev.where(F.col("event_type") == "error") \
            .select("user_id", F.col("event_id").alias("err_id"), "ts")
        out = range_join(clicks, errors.select("user_id", "err_id", "ts"),
                         key_col="user_id", ts_col="ts",
                         delta_seconds=7200, right_cols=["err_id"])
        fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        return out.select(
            "event_id", "user_id", F.col("err_id_r").alias("err_id"),
            F.date_format("ts", fmt).alias("ts"),
            F.date_format("ts_r", fmt).alias("err_ts"))

    def events_hourly(spark, sf):
        ev = spark.read.parquet(_t(sf, "events"))
        return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("value").cast("decimal(18,6)"))
                     .cast("decimal(18,6)").cast("string")
                     .alias("sum_value"))
                .select(F.date_format("w.start", "yyyy-MM-dd HH:mm")
                        .alias("window_start"),
                        "event_type", "n", "sum_value"))

    def rel_groupby_agg(spark, sf):
        li = spark.read.parquet(_t(sf, "lineitem"))
        return (li.groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                     .cast("decimal(18,6)").cast("string").alias("sum_qty"),
                     F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                     .cast("decimal(18,6)").cast("string").alias("sum_price"),
                     F.count("*").alias("n")))

    def rel_multi_join(spark, sf):
        # 4-table star join: Catalyst broadcast-chains the three dims;
        # the fact (orders) side never shuffles
        o = spark.read.parquet(_t(sf, "orders"))
        c = spark.read.parquet(_t(sf, "customer"))
        n = spark.read.parquet(_t(sf, "nation"))
        r = spark.read.parquet(_t(sf, "region"))
        return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
                .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
                .groupBy("r_name")
                .agg(F.count("*").alias("n_orders"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                     .cast("decimal(18,6)").cast("string")
                     .alias("sum_total")))

    def rel_window_topk(spark, sf):
        from pyspark.sql import Window
        o = spark.read.parquet(_t(sf, "orders"))
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        return (o.withColumn("rnk", F.row_number().over(w))
                .where(F.col("rnk") <= 3)
                .select("o_custkey", "rnk", "o_orderkey"))

    # ---- merged gate entries (r4): the driver sweeps at most 50
    # correctness rows, so families sharing one oracle mechanism are
    # union-tagged into a single entry each (VERDICT r3 #2). Every
    # constituent operator keeps its own pytest coverage; the mapping
    # is documented in COVERAGE.md.
    def cell_covers(spark, sf):
        # quad covering + S2 covering + Z-order key, tagged by grid —
        # the three spatial-key codecs share the (url, cell) shape
        from rustac_spark.geo import s2cells
        from rustac_spark.geo.cells import _xi, _yi
        from rustac_spark.pipeline.layout import zorder_key
        g = _pages_geo(spark, sf)
        quad = g.select(
            F.lit("quad").alias("grid"), "url",
            F.explode(cells.cover_bbox(
                F.col("xmin"), F.col("ymin"), F.col("xmax"),
                F.col("ymax"))).alias("cell"))
        s2 = g.select(
            F.lit("s2").alias("grid"), "url",
            F.explode(s2cells.cover_bbox(
                F.col("xmin"), F.col("ymin"), F.col("xmax"),
                F.col("ymax"))).alias("cell"))
        zo = g.select(
            F.lit("zorder").alias("grid"), "url",
            zorder_key(_xi(F.col("lon"), 10),
                       _yi(F.col("lat"), 10)).alias("cell"))
        return quad.unionByName(s2).unionByName(zo)

    def stac_ids_collections(spark, sf):
        a = build_plan(_stac(spark), Search(
            ids=["item-0042", "item-0007"])).select(
            F.lit("ids").alias("probe"), "id")
        b = build_plan(_stac(spark), Search(
            collections=["collection-a"])).select(
            F.lit("collections").alias("probe"), "id")
        return a.unionByName(b)

    def stac_intersects_merged(spark, sf):
        a = build_plan(_stac(spark), Search(
            intersects=point_wkb(-106.0, 40.5))).select(
            F.lit("point").alias("probe"), "id")
        mp = {"type": "MultiPolygon", "coordinates": [
            [[[-106.1, 40.5], [-106.0, 40.5], [-106.0, 40.6],
              [-106.1, 40.6], [-106.1, 40.5]]],
            [[[57.1, -60.1], [57.3, -60.1], [57.3, -59.9],
              [57.1, -59.9], [57.1, -60.1]]],
        ]}
        b = build_plan(_stac(spark), Search(intersects=mp)).select(
            F.lit("multipolygon").alias("probe"), "id")
        return a.unionByName(b)

    def stac_datetime(spark, sf):
        a = build_plan(_stac(spark), Search(
            datetime="../2024-12-02T00:00:00Z")).select(
            F.lit("open").alias("probe"), "id")
        di = spark.read.parquet(f"{DATA}/stac_items_interval.parquet")
        b = build_plan(di, Search(
            datetime="2026-04-15T00:00:00Z")).select(
            F.lit("interval").alias("probe"), "id")
        return a.unionByName(b)

    def stac_cql2_scalar(spark, sf):
        cloud = F.col("`eo:cloud_cover`").alias("cloud")
        a = build_plan(_stac(spark), Search(
            filter="sat:relative_orbit = 98 and eo:cloud_cover < 50"
        )).select(F.lit("eq_and_lt").alias("probe"), "id", cloud)
        b = build_plan(_stac(spark), Search(
            filter="eo:cloud_cover * 2 + 1 < sat:relative_orbit - 40"
        )).select(F.lit("arith").alias("probe"), "id", cloud)
        c = build_plan(_stac(spark), Search(
            filter="foo:bar = 42")).select(
            F.lit("shortcircuit").alias("probe"), "id", cloud)
        return a.unionByName(b).unionByName(c)

    def stac_cql2_extended(spark, sf):
        a = build_plan(_stac(spark), Search(
            filter="s_intersects(geometry, BBOX(-106.1, 40.5, -106.0, 40.6))"
                   " and eo:cloud_cover < 50"
        )).select(F.lit("spatial").alias("probe"), "id")
        tagged = _stac(spark).withColumn("tags", F.array(
            F.when(F.col("`sat:relative_orbit`") % 2 == 0,
                   F.lit("even")).otherwise(F.lit("odd")),
            F.lit("all")))
        b = build_plan(tagged, Search(
            filter="a_contains(tags, ('all', 'even')) "
                   "and eo:cloud_cover < 50")).select(
            F.lit("array").alias("probe"), "id")
        c = build_plan(_stac(spark), Search(
            filter="t_after(datetime, timestamp('2024-06-01T00:00:00Z')) "
                   "and t_before(datetime, timestamp('2024-09-01T00:00:00Z'))"
        )).select(F.lit("temporal").alias("probe"), "id")
        return a.unionByName(b).unionByName(c)

    def stac_frequency(spark, sf):
        from rustac_spark.stac.api import (datetime_frequency,
                                           grid_frequency)
        a = datetime_frequency(_stac(spark), interval="month").select(
            F.lit("datetime").alias("probe"), "bucket", "frequency")
        b = grid_frequency(_stac(spark), res=6).select(
            F.lit("grid").alias("probe"),
            F.col("cell").cast("string").alias("bucket"), "frequency")
        return a.unionByName(b)

    def doc_tokens(spark, sf):
        # whitespace token count + BPE-ish pre-token count + sha256
        # fingerprint + benchmark-decontamination hit count (every 50th
        # doc plays the held-out eval set) + greedy sequence packing
        # (256-token packs per source shard, in doc_id order) — the
        # oracle twins the packing with a per-source recursive CTE
        from rustac_spark.textops.basic import (bpe_token_count,
                                                token_count)
        from rustac_spark.textops.ngram import contaminated_gram_counts
        from rustac_spark.textops.packing import pack_documents
        d = spark.read.parquet(_t(sf, "documents"))
        bench = d.where(F.col("doc_id") % 50 == 0).select("text")
        hits = contaminated_gram_counts(d, bench, n=8)
        base = (d.join(hits, "doc_id", "left")
                .select(
                    "doc_id", "source",
                    token_count(F.col("text")).alias("n_tokens"),
                    bpe_token_count(F.col("text")).alias("n_bpe"),
                    F.sha2(F.col("text"), 256).alias("fp"),
                    F.coalesce(F.col("n_contam_grams"), F.lit(0))
                    .cast("long").alias("n_contam")))
        # packing only needs (doc_id, source, n_tokens) — build them
        # straight from d so the contaminated-grams join above is not
        # evaluated a second time inside the packs branch of this one
        # action (token_count is deterministic: identical values)
        slim = d.select("doc_id", "source",
                        token_count(F.col("text")).alias("n_tokens"))
        packs = pack_documents(slim, budget=256, group_cols=("source",),
                               id_col="doc_id", token_col="n_tokens") \
            .select("doc_id", "pack_id", "pack_pos")
        return base.join(packs, "doc_id")

    def pages_corpus_stats(spark, sf):
        # lang-level + domain-level curation stats, tagged by grouping
        p = _pages(spark, sf)
        lang = (p.groupBy(F.col("lang").alias("key"))
                .agg(F.count("*").alias("n_pages"),
                     F.lit(None).cast("long").alias("n_langs"),
                     F.round(F.avg(F.length("text")), 6)
                     .alias("avg_chars"))
                .select(F.lit("lang").alias("grp"), "key", "n_pages",
                        "n_langs", "avg_chars"))
        dom = (p.groupBy(F.split("url", "/").getItem(2).alias("key"))
               .agg(F.count("*").alias("n_pages"),
                    F.countDistinct("lang").alias("n_langs"),
                    F.round(F.avg(F.length("text")), 6)
                    .alias("avg_chars"))
               .select(F.lit("domain").alias("grp"), "key", "n_pages",
                       "n_langs", "avg_chars"))
        return lang.unionByName(dom)

    def stac_transactions(spark, sf):
        # transaction surface gate: create a snapshot table from the
        # fixture, add 3 items (two via dict ingest, one batch),
        # delete one, then report post-transaction per-collection
        # stats — the oracle rebuilds the same end state in SQL from
        # the fixture + literal rows
        import tempfile

        from rustac_spark.stac.transactions import TransactionClient
        td = tempfile.mkdtemp(prefix="stac_txn_gate_")
        tc = TransactionClient(spark, f"{td}/tbl")
        tc.add_items(_stac(spark))
        tc.add_item_dicts([
            {"type": "Feature", "id": "item-t1",
             "collection": "collection-b",
             "geometry": {"type": "Point",
                          "coordinates": [10.0, 20.0]},
             "properties": {"datetime": "2025-03-01T00:00:00Z"}},
            {"type": "Feature", "id": "item-t2",
             "collection": "collection-b",
             "geometry": {"type": "Point",
                          "coordinates": [11.5, 21.5]},
             "properties": {"datetime": "2025-04-01T00:00:00Z"}},
        ])
        tc.add_item(
            {"type": "Feature", "id": "item-t3",
             "collection": "collection-a",
             "geometry": {"type": "Point",
                          "coordinates": [-100.0, 40.0]},
             "properties": {"datetime": "2025-05-01T00:00:00Z"}})
        tc.delete_item("collection-a", "item-0000")
        # PUT semantics (round-5 probe): replace item-t1 in place via
        # the dict upsert API — exercises the file-granular COW merge
        # the PUT /collections/{cid}/items/{iid} route calls
        tc.upsert_item(
            {"type": "Feature", "id": "item-t1",
             "collection": "collection-b",
             "geometry": {"type": "Point",
                          "coordinates": [12.0, 22.0]},
             "properties": {"datetime": "2025-06-01T00:00:00Z"}})
        # collection-level PUT/DELETE (round-6 probe): replace
        # collection-b's registration via the PUT /collections/{cid}
        # engine call, create collection-c with one item, then DELETE
        # it — its items must vanish from the per-collection stats and
        # the listing must show exactly the two surviving collections
        # with the replaced description.
        tc.add_item(
            {"type": "Feature", "id": "item-t4",
             "collection": "collection-c",
             "geometry": {"type": "Point",
                          "coordinates": [50.0, 50.0]},
             "properties": {"datetime": "2025-07-01T00:00:00Z"}})
        tc.update_collection(
            {"id": "collection-b", "description": "replaced-by-put"})
        tc.delete_collection("collection-c")
        cols = tc.collections()
        n_collections = len(cols)
        desc_b = next((c.get("description") for c in cols
                       if c["id"] == "collection-b"), None)
        out = tc.read()
        agg = (out.groupBy("collection")
                .agg(F.count("*").alias("n_items"),
                     F.round(F.min("bbox.xmin"), 6).alias("xmin"),
                     F.round(F.min("bbox.ymin"), 6).alias("ymin"),
                     F.round(F.max("bbox.xmax"), 6).alias("xmax"),
                     F.round(F.max("bbox.ymax"), 6).alias("ymax"),
                     F.date_format(
                         F.min(F.coalesce("start_datetime", "datetime")),
                         "yyyy-MM-dd HH:mm:ss").alias("t0"),
                     F.date_format(
                         F.max(F.coalesce("end_datetime", "datetime")),
                         "yyyy-MM-dd HH:mm:ss").alias("t1"))
                .withColumn("n_collections", F.lit(n_collections))
                .withColumn("desc_b", F.lit(desc_b)))
        # the tiny aggregate is checkpointed so the temp table can be
        # deleted immediately — repeated gate runs leave nothing behind
        agg = agg.localCheckpoint(eager=True)
        import shutil
        shutil.rmtree(td, ignore_errors=True)
        return agg

    # exactly 50 entries (the driver's correctness sweep cap), ordered
    # riskiest-first: operators changed this round, then merged
    # entries with fresh oracle SQL, then long-driver-green stalwarts.
    # Merged-away entries (spatial_join_s2, knn bruteforce, the cql2/
    # intersects/datetime/frequency singles, doc_token_counts/
    # doc_fingerprints/doc_bpe_tokens, pages_lang/domain_stats,
    # rel_filter_agg/rel_join_agg) keep pytest coverage; mapping in
    # COVERAGE.md.
    return {
        "dedup_clusters": dedup_clusters,
        "dedup_retained": dedup_retained,
        "events_asof": events_asof,
        "events_sessionize": events_sessionize,
        "events_range_join": events_range_join,
        "events_hourly": events_hourly,
        "embedding_near_dups": embedding_near_dups,
        "embedding_semdedup": embedding_semdedup,
        "ngram_jaccard": ngram_jaccard,
        "spatial_join_convex": spatial_join_convex,
        "stac_transactions": stac_transactions,
        "knn_cells": knn_cells_q,
        "cell_covers": cell_covers,
        "stac_ids_collections": stac_ids_collections,
        "stac_intersects": stac_intersects_merged,
        "stac_datetime": stac_datetime,
        "stac_cql2_scalar": stac_cql2_scalar,
        "stac_cql2_extended": stac_cql2_extended,
        "stac_frequency": stac_frequency,
        "doc_tokens": doc_tokens,
        "pages_corpus_stats": pages_corpus_stats,
        "rel_groupby_agg": rel_groupby_agg,
        "rel_multi_join": rel_multi_join,
        "rel_window_topk": rel_window_topk,
        "spatial_join_polygon": spatial_join_polygon,
        "spatial_join_rectilinear": spatial_join_rectilinear,
        "spatial_join_subdivided": spatial_join_subdivided,
        "spatio_temporal_join": spatio_temporal,
        "doc_dup_spans": doc_dup_spans,
        "tiles": tiles_q,
        "doc_canonical_urls": doc_canonical_urls,
        "doc_curation_e2e": doc_curation_e2e,
        "mm_binary_meta": mm_binary_meta,
        "mm_image_decode": mm_image_decode,
        "mm_audio_features": mm_audio_features,
        "stac_flagship": stac_flagship,
        "stac_sort_page": stac_sort_page,
        "stac_collections_extent": stac_collections_extent,
        "doc_pii_scrub": doc_pii_scrub,
        "dedup_exact": dedup_exact,
        "doc_text_stats": doc_text_stats,
        "doc_quality_rules": doc_quality_rules,
        "doc_chunks": doc_chunks,
        "doc_c4_filters": doc_c4_filters,
        "doc_top_terms": doc_top_terms,
        "doc_sample_stratified": doc_sample_stratified,
        "doc_length_quantiles": doc_length_quantiles,
        "minhash_near_dups": minhash_near_dups,
        "simhash_near_dups": simhash_near_dups,
        "ann_cosine_topk": ann_cosine_topk,
    }


# ----------------------------------------------------------- oracle SQL

_P001 = f"{DATA}/pages_sf0.001.parquet"
_P01 = f"{DATA}/pages_sf0.01.parquet"
_G01 = f"{DATA}/pages_geo_sf0.01.parquet"
_Q = f"{DATA}/queries.parquet"
_S = f"{DATA}/stac_items.parquet"
_SI = f"{DATA}/stac_items_interval.parquet"

_STOP_EN = "['the','and','of','to','in','is','it','that']"
_STOP_DE = "['der','die','das','und','ist','nicht','ein','zu']"
_STOP_FR = "['le','la','les','et','est','pas','un','une']"
_STOP_ES = "['el','la','los','y','es','no','un','una']"

_MERC_Y = ("greatest(0, least({m}, CAST(floor((1 - ln(tan(radians("
           "least(85.05112878, greatest(-85.05112878, {lat})))) + "
           "1/cos(radians(least(85.05112878, greatest(-85.05112878, "
           "{lat})))))/pi())/2*{n}) AS BIGINT)))")
_MERC_X = ("greatest(0, least({m}, CAST(floor(({lon}+180)/360*{n}) "
           "AS BIGINT)))")


def _tile_sql(z: int, agg: bool) -> str:
    n, m = 1 << z, (1 << z) - 1
    x0 = _MERC_X.format(lon="xmin", n=n, m=m)
    x1 = _MERC_X.format(lon="xmax", n=n, m=m)
    y0 = _MERC_Y.format(lat="ymax", n=n, m=m)
    y1 = _MERC_Y.format(lat="ymin", n=n, m=m)
    inner = f"""
      WITH b AS (SELECT url, {x0} tx0, {x1} tx1, {y0} ty0, {y1} ty1
                 FROM read_parquet('{_G01}')),
      t AS (SELECT url, tile_x, unnest(generate_series(ty0, ty1)) tile_y
            FROM (SELECT url, unnest(generate_series(tx0, tx1)) tile_x,
                         ty0, ty1 FROM b))
    """
    if agg:
        return inner + \
            " SELECT tile_x, tile_y, count(*) n_pages FROM t GROUP BY 1, 2"
    return inner + f" SELECT url, {z} tile_z, tile_x, tile_y FROM t"


def _quad_cell_sql() -> str:
    # mirrors rustac_spark.geo.cells: res=10, id=(res<<58)|(y<<29)|x
    n, m = 1 << 10, (1 << 10) - 1
    base = 10 << 58
    return f"""
      WITH b AS (SELECT url,
        greatest(0, least({m}, CAST(floor((xmin+180)/360*{n}) AS BIGINT))) x0,
        greatest(0, least({m}, CAST(floor((xmax+180)/360*{n}) AS BIGINT))) x1,
        greatest(0, least({m}, CAST(floor((ymin+90)/180*{n}) AS BIGINT))) y0,
        greatest(0, least({m}, CAST(floor((ymax+90)/180*{n}) AS BIGINT))) y1
        FROM read_parquet('{_G01}'))
      SELECT url, {base} + (y * 536870912) + x AS cell
      FROM (SELECT url, x, unnest(generate_series(y0, y1)) y
            FROM (SELECT url, unnest(generate_series(x0, x1)) x, y0, y1
                  FROM b))
    """


def _dup_spans_sql(n: int = 10, min_count: int = 2) -> str:
    """DuckDB twin of textops.ngram.dup_ngram_spans(hashed=False):
    token n-gram postings → corpus-frequent grams → per-doc maximal
    adjacent-position runs."""
    return rf"""
        WITH t AS (SELECT doc_id,
            regexp_split_to_array(trim(text), '\s+') tk FROM documents),
        p AS (SELECT doc_id, i - 1 AS pos,
                     array_to_string(tk[i:i+{n - 1}], ' ') g
              FROM (SELECT doc_id, tk,
                           unnest(generate_series(1, len(tk) - {n} + 1)) i
                    FROM t WHERE len(tk) >= {n})),
        f AS (SELECT g FROM p GROUP BY g HAVING count(*) >= {min_count}),
        d AS (SELECT doc_id, pos FROM p JOIN f USING (g)),
        r AS (SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER w = 1 THEN 0 ELSE 1
                     END nw
              FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        s AS (SELECT doc_id, pos,
                     sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) run
              FROM r)
        SELECT doc_id, min(pos) span_start,
               max(pos) + {n - 1} span_end, count(*) n_dup_grams
        FROM s GROUP BY doc_id, run
    """



from rustac_spark.textops.basic import _TRACKING_PARAMS as _TRACK


def _canonical_urls_sql() -> str:
    """DuckDB twin of textops.basic.canonical_url +
    dedup_by_canonical_url over deterministically-mutated page URLs
    (same variant rewrite as the Spark gate). The nine-step
    regexp_replace chain mirrors canonical_url's exact order; DuckDB
    needs explicit 'g' flags where Java regexp_replace is global, and
    backreferences are \\1 instead of $1 — the PATTERNS are shared
    by construction (no lookaround / backrefs)."""
    chain = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(regexp_replace(regexp_replace("
        "concat(lower(regexp_extract(u1, '^([^/]*//[^/]*)', 1)), "
        "       regexp_replace(u1, '^[^/]*//[^/]*', '')), "
        "  '^([a-z][a-z0-9+.-]*://[^/?#:]+):(80|443)([/?#]|$)', "
        "  '\\1\\3'), "
        "  '([?&])({params})=[^&#]*', '\\1', 'g'), "
        "  '/\\?', '?', 'g'), "
        "  '[?&]+$', '', 'g'), "
        "  '\\?&', '?', 'g'), "
        "  '&&+', '&', 'g'), "
        "  '(.)/$', '\\1', 'g')"
    ).format(params="|".join(_TRACK))
    return f"""
        WITH p AS (SELECT url,
              CAST(regexp_extract(url, 'p([0-9]+)$', 1) AS BIGINT)
                % 6 AS m
            FROM read_parquet('{_P01}')),
        v AS (SELECT url FROM p
              UNION
              SELECT CASE m
                WHEN 0 THEN regexp_replace(url, '^https://', 'HTTPS://')
                WHEN 1 THEN url || '#frag'
                WHEN 2 THEN url || '?utm_source=x&utm_campaign=y'
                WHEN 3 THEN regexp_replace(url, '^(https://[^/]+)',
                                           '\\1:443')
                WHEN 4 THEN url || '/'
                ELSE url END
              FROM p),
        f AS (SELECT url, regexp_replace(url, '#.*$', '', 'g') u1
              FROM v),
        c AS (SELECT url, {chain} AS canonical FROM f)
        SELECT url, canonical,
               CAST(url = min(url) OVER (PARTITION BY canonical)
                    AS INT) kept
        FROM c
    """


def _curation_sql() -> str:
    """DuckDB twin of pipeline.curation.curate_corpus with the
    near-dup stage disabled (threshold > 1): quality (Gopher rules +
    C4 line filter, reusing the exact expressions of the
    doc_quality_rules / doc_c4_filters oracles) -> exact dedup
    (keep-min per sha256) -> PII scrub -> 40/8 token chunking, over
    the same deterministic sentence-structure rewrite the Spark gate
    injects."""
    from rustac_spark.textops.basic import (PII_EMAIL, PII_IPV4,
                                            PII_PHONE)
    return f"""
        WITH d0 AS (SELECT doc_id,
              replace(text, ' table ', '.' || chr(10)) || '.' AS text
            FROM documents),
        tq AS (SELECT doc_id, text,
              regexp_split_to_array(trim(text), '\\s+') tk FROM d0),
        g AS (SELECT doc_id, tk,
            CASE WHEN len(tk) >= 2 THEN list_transform(
                   range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                 ELSE []::VARCHAR[] END g2,
            CASE WHEN len(tk) >= 3 THEN list_transform(
                   range(1, len(tk)-1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                 ELSE []::VARCHAR[] END g3
          FROM tq),
        m AS (SELECT doc_id,
            CASE WHEN len(tk) <= 0 THEN 0.0 ELSE
              1.0 - len(list_distinct(tk)) * 1.0 / len(tk) END dwf,
            CASE WHEN len(g2) <= 0 THEN 0.0 ELSE
              list_max(list_transform(list_distinct(g2),
                x -> len(list_filter(g2, y -> y = x))))
              * 1.0 / len(g2) END tbf,
            CASE WHEN len(g3) <= 0 THEN 0.0 ELSE
              list_max(list_transform(list_distinct(g3),
                x -> len(list_filter(g3, y -> y = x))))
              * 1.0 / len(g3) END ttf
          FROM g),
        gp AS (SELECT doc_id FROM m
               WHERE round(tbf, 6) <= 0.20 AND round(ttf, 6) <= 0.18
                 AND round(dwf, 6) <= 0.90),
        ck AS (SELECT doc_id, text,
            list_filter(string_split(text, chr(10)), l ->
              (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
               OR ends_with(trim(l), '?')
               OR ends_with(trim(l), '"'))
              AND (CASE WHEN length(trim(l)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(l), '\\s+'))
                   END) >= 3) kept
          FROM d0),
        quality AS (SELECT ck.doc_id,
              array_to_string(ck.kept, chr(10)) AS text
            FROM ck JOIN gp USING (doc_id)
            WHERE len(ck.kept) > 0
              AND NOT (contains(lower(ck.text), 'lorem ipsum')
                       OR contains(lower(ck.text), 'javascript'))),
        keep AS (SELECT min(doc_id) doc_id FROM quality
                 GROUP BY sha256(text)),
        ex AS (SELECT q.doc_id, q.text FROM quality q
               JOIN keep USING (doc_id)),
        pii AS (SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(text,
                  '{PII_EMAIL}', '<EMAIL>', 'g'),
                  '{PII_IPV4}', '<IP>', 'g'),
                  '{PII_PHONE}', '<PHONE>', 'g') AS text
            FROM ex),
        ct AS (SELECT doc_id,
              regexp_split_to_array(trim(text), '\\s+') tk FROM pii),
        sg AS (SELECT doc_id, tk,
              unnest(generate_series(0,
                  CAST(greatest(0, floor((len(tk)-1)/32)*32) AS BIGINT),
                  32)) cs
            FROM ct),
        ch AS (SELECT doc_id, cs chunk_start,
              array_to_string(tk[cs+1:cs+40], ' ') chunk_text
            FROM sg)
        SELECT doc_id, chunk_start, chunk_text,
               CASE WHEN length(chunk_text) = 0 THEN 0
                    ELSE len(string_split_regex(chunk_text, '\\s+'))
               END n_chunk_tokens
        FROM ch
    """


def _pii_sql() -> str:
    """DuckDB twin of textops.basic.with_pii_scrub over documents with
    the same deterministic PII injection the Spark gate applies. The
    patterns are shared constants (RE2/Java-regex-portable by
    construction: no lookaround, no backrefs)."""
    from rustac_spark.textops.basic import (PII_EMAIL, PII_IPV4,
                                            PII_PHONE)
    return f"""
        WITH d AS (SELECT doc_id,
            text || ' contact u' || doc_id || '@example.com from 10.0.'
                 || (doc_id % 256) || '.' || (doc_id % 100)
                 || ' tel +1555'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 AS text
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(text, '{PII_EMAIL}')) n_emails,
               len(regexp_extract_all(text, '{PII_IPV4}')) n_ips,
               len(regexp_extract_all(text, '{PII_PHONE}')) n_phones,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g') scrubbed_text
        FROM d
    """


def _zorder_sql() -> str:
    """DuckDB twin of pipeline.layout.zorder_key (10-bit interleave)
    over the geocoded pages — emitted as (url, cell) so it unions
    with the grid coverings in the cell_covers gate."""
    return f"""
        WITH g AS (SELECT url,
            greatest(0, least(1023,
              CAST(floor((lon+180)/360*1024) AS BIGINT))) xi,
            greatest(0, least(1023,
              CAST(floor((lat+90)/180*1024) AS BIGINT))) yi
          FROM read_parquet('{_G01}')),
        s1 AS (SELECT url,
            ((xi & 65535) | ((xi & 65535) << 8)) & 16711935 sx,
            ((yi & 65535) | ((yi & 65535) << 8)) & 16711935 sy
          FROM g),
        s2 AS (SELECT url, ((sx | (sx << 4)) & 252645135) sx,
                           ((sy | (sy << 4)) & 252645135) sy FROM s1),
        s3 AS (SELECT url, ((sx | (sx << 2)) & 858993459) sx,
                           ((sy | (sy << 2)) & 858993459) sy FROM s2),
        s4 AS (SELECT url, ((sx | (sx << 1)) & 1431655765) sx,
                           ((sy | (sy << 1)) & 1431655765) sy FROM s3)
        SELECT url, (sx | (sy << 1)) cell FROM s4
    """


def _sat_convex_conds(verts: list) -> str:
    """Separating-axis conjunction for rect × one CONVEX polygon:
    rect-axis overlaps with the polygon bbox + per-edge-normal
    projection overlaps. All polygon constants are full-precision
    literals; the rect projection extrema pick xmin/xmax (ymin/ymax)
    by the known sign of each normal component — a pure conjunction
    of linear comparisons, no CASE needed."""
    xs = [p[0] for p in verts]
    ys = [p[1] for p in verts]
    conds = [f"g.xmin <= {max(xs)!r} AND g.xmax >= {min(xs)!r}",
             f"g.ymin <= {max(ys)!r} AND g.ymax >= {min(ys)!r}"]
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        nx, ny = (y2 - y1), -(x2 - x1)
        if nx == 0.0 and ny == 0.0:
            continue  # degenerate edge
        projs = [nx * vx + ny * vy for vx, vy in verts]
        pmin, pmax = min(projs), max(projs)
        rlo_x, rhi_x = ("xmin", "xmax") if nx > 0 else ("xmax", "xmin")
        rlo_y, rhi_y = ("ymin", "ymax") if ny > 0 else ("ymax", "ymin")
        rmin = f"{nx!r}*g.{rlo_x} + {ny!r}*g.{rlo_y}"
        rmax = f"{nx!r}*g.{rhi_x} + {ny!r}*g.{rhi_y}"
        conds.append(f"({rmin}) <= {pmax!r} AND ({rmax}) >= {pmin!r}")
    return "\n               AND ".join(conds)


def _convex_sat_sql() -> str:
    """Exact DuckDB oracle for the convex probes (query_id >= 68):
    rect × convex-polygon intersection via the separating-axis
    theorem."""
    from rustac_spark.synth import convex_query_params, convex_ring
    parts = []
    for j, (cx, cy, a, b, phi) in enumerate(convex_query_params()):
        qid = 68 + j
        ring = convex_ring(cx, cy, a, b, phi, j)[:-1]
        parts.append(
            f"SELECT {qid} AS query_id, g.url"
            f" FROM read_parquet('{_G01}') g"
            f" WHERE {_sat_convex_conds(ring)}")
    return " UNION ALL ".join(parts)


def _star_fan_sql() -> str:
    """Exact DuckDB oracle for the IRREGULAR 7-gon probes (kind =
    polygon, query_id < 60): each probe is star-shaped around its
    anchor (vertices in strictly increasing angular order), so the
    fan triangles (anchor, v_i, v_i+1) tile the polygon EXACTLY and

        rect ∩ polygon ≠ ∅  ⟺  ∃ triangle: rect ∩ triangle ≠ ∅.

    Triangles are convex, so each disjunct is a separating-axis
    conjunction — the whole predicate is an OR of 7 pure-linear
    conjunctions per probe. This upgrades the last spatial rows-only
    query to a full value-level oracle."""
    from rustac_spark.synth import irregular_polygon_ring, probe_anchor
    parts = []
    for qid in range(4, 60, 5):  # kind == polygon ⇔ q % 5 == 4
        cx, cy = probe_anchor(qid)
        ring = irregular_polygon_ring(qid, cx, cy)[:-1]
        tris = []
        for i in range(len(ring)):
            tri = [(cx, cy), ring[i], ring[(i + 1) % len(ring)]]
            tris.append(f"({_sat_convex_conds(tri)})")
        body = "\n            OR ".join(tris)
        parts.append(
            f"SELECT {qid} AS query_id, g.url"
            f" FROM read_parquet('{_G01}') g"
            f" WHERE {body}")
    return " UNION ALL ".join(parts)


def _s2_cover_sql(level: int = 9) -> str:
    """DuckDB twin of rustac_spark.geo.s2cells.cover_bbox: per-face
    clip + index ranges, UNION ALL over the 6 faces."""
    from rustac_spark.geo.s2cells import FACE_RECTS
    n, jm = 1 << level, 1 << 27
    parts = []
    for face, (lon0, lon1, lat0, lat1) in enumerate(FACE_RECTS):
        base = (level << 58) | (face << 54)

        def idx(v, lo, hi):
            return (f"greatest(0, least({n - 1}, CAST(floor(({v} - {lo})"
                    f" / {hi - lo} * {n}) AS BIGINT)))")

        if face < 4:
            lon_hi = f"xmin <= {lon1}" if face == 3 else f"xmin < {lon1}"
            cond = (f"{lon_hi} AND xmax >= {lon0} "
                    f"AND ymin < 45 AND ymax >= -45")
        elif face == 4:
            cond = "ymax >= 45"
        else:
            cond = "ymin < -45"
        parts.append(f"""
          SELECT url, {base} + j * {jm} + i AS cell
          FROM (SELECT url, i, unnest(generate_series(j0, j1)) j
                FROM (SELECT url, unnest(generate_series(i0, i1)) i, j0, j1
                      FROM (SELECT url,
                        {idx(f'greatest(xmin, {lon0})', lon0, lon1)} i0,
                        {idx(f'least(xmax, {lon1})', lon0, lon1)} i1,
                        {idx(f'greatest(ymin, {lat0})', lat0, lat1)} j0,
                        {idx(f'least(ymax, {lat1})', lat0, lat1)} j1
                        FROM read_parquet('{_G01}') WHERE {cond})))
        """)
    return " UNION ALL ".join(parts)


def oracle_sql() -> dict[str, str]:
    rect_join = f"""
      SELECT q.query_id, g.url
      FROM read_parquet('{_Q}') q JOIN read_parquet('{_G01}') g
        ON g.xmin <= q.qxmax AND g.xmax >= q.qxmin
       AND g.ymin <= q.qymax AND g.ymax >= q.qymin
      WHERE q.kind <> 'polygon'
    """
    knn_sql = f"""
        WITH q AS (SELECT query_id, qxmin qlon, qymin qlat
                   FROM read_parquet('{_Q}') WHERE kind = 'point'),
        d AS (SELECT q.query_id, g.url,
                2*6371.0088*asin(sqrt(
                  pow(sin(radians(g.lat-q.qlat)/2),2)
                  + cos(radians(q.qlat))*cos(radians(g.lat))
                    *pow(sin(radians(g.lon-q.qlon)/2),2))) dist
              FROM q, read_parquet('{_G01}') g)
        SELECT query_id, rank, url, round(dist, 6) dist_km FROM (
          SELECT query_id, url, dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dist, url) rank
          FROM d) WHERE rank <= 5
    """
    lang_votes = ", ".join(
        f"len(list_intersect(toks, {lst})) v_{lg}"
        for lg, lst in [("de", _STOP_DE), ("en", _STOP_EN),
                        ("es", _STOP_ES), ("fr", _STOP_FR)])
    return {
        "doc_canonical_urls": _canonical_urls_sql(),
        "doc_curation_e2e": _curation_sql(),
        "cell_covers":
            f"SELECT 'quad' AS grid, url, cell FROM ({_quad_cell_sql()}) "
            f"UNION ALL "
            f"SELECT 's2' AS grid, url, cell FROM ({_s2_cover_sql()}) "
            f"UNION ALL "
            f"SELECT 'zorder' AS grid, url, cell FROM ({_zorder_sql()})",
        # (spatial_join_rect retired from the 50-slot sweep: its gate
        # output is the identical rect_join oracle that
        # spatial_join_subdivided still runs — the subdivided entry
        # exercises a strict superset of the plain path's code)
        # L-shape region == rect A ∪ rect B; split coords recomputed
        # from the stored bbox with the exact expressions the fixture
        # generator used (bit-identical IEEE doubles)
        "spatial_join_rectilinear": f"""
            SELECT q.query_id, g.url
            FROM (SELECT query_id, qxmin, qymin, qxmax, qymax,
                         qxmin + 0.6*(qxmax-qxmin) xm,
                         qymin + 0.5*(qymax-qymin) ym
                  FROM read_parquet('{_Q}')
                  WHERE kind = 'polygon'
                    AND query_id BETWEEN 63 AND 67) q
            JOIN read_parquet('{_G01}') g
              ON (g.xmin <= q.qxmax AND g.xmax >= q.qxmin
                  AND g.ymin <= q.ym AND g.ymax >= q.qymin)
              OR (g.xmin <= q.xm AND g.xmax >= q.qxmin
                  AND g.ymin <= q.qymax AND g.ymax >= q.qymin)
        """,
        "spatial_join_polygon": _star_fan_sql(),
        "spatial_join_convex": _convex_sat_sql(),
        "spatio_temporal_join": f"""
            SELECT q.query_id, g.url
            FROM read_parquet('{_Q}') q
            JOIN read_parquet('{_G01}') g
              ON g.xmin <= q.qxmax AND g.xmax >= q.qxmin
             AND g.ymin <= q.qymax AND g.ymax >= q.qymin
            JOIN read_parquet('{_P01}') p ON p.url = g.url
            WHERE q.kind = 'bbox' AND q.datetime IS NOT NULL
              AND (q.t_start IS NULL OR p.warc_ts >= q.t_start)
              AND (q.t_end IS NULL OR p.warc_ts <= q.t_end)
        """,
        "knn_cells": knn_sql,  # scale path must equal exact kNN (the
        # bruteforce twin shares this oracle; pytest-gated since r4)
        "spatial_join_subdivided": rect_join,  # skew path must equal plain
        "tiles":
            f"SELECT 'assign_z10' AS probe, url, tile_z, tile_x, "
            f"tile_y, NULL::BIGINT n_pages FROM ({_tile_sql(10, False)}) "
            f"UNION ALL "
            f"SELECT 'counts_z6', NULL::VARCHAR, 6, tile_x, tile_y, "
            f"n_pages FROM ({_tile_sql(6, True)})",
        "doc_dup_spans": _dup_spans_sql(),
        "pages_corpus_stats": f"""
            SELECT 'lang' grp, lang AS "key", count(*) n_pages,
                   NULL::BIGINT n_langs,
                   round(avg(length(text)), 6) avg_chars
            FROM read_parquet('{_P01}') GROUP BY lang
            UNION ALL
            SELECT 'domain', string_split(url, '/')[3], count(*),
                   count(DISTINCT lang),
                   round(avg(length(text)), 6)
            FROM read_parquet('{_P01}') GROUP BY string_split(url, '/')[3]
        """,
        "mm_binary_meta": f"""
            SELECT url, octet_length(html) n_bytes,
                   CASE WHEN substr(CAST(html AS VARCHAR), 1, 6) = '<html>'
                        THEN 'text/html'
                        ELSE 'application/octet-stream' END content_type
            FROM read_parquet('{_P01}')
        """,
        "mm_image_decode": """
            SELECT doc_id,
                   CAST(4 + doc_id % 13 AS INT) width,
                   CAST(4 + (doc_id * 7) % 11 AS INT) height,
                   3 channels,
                   CAST((doc_id * 3) % 256 + (doc_id * 5) % 256
                        + (doc_id * 11) % 256 AS INT) rgb_sum
            FROM documents
        """,
        "mm_audio_features": """
            SELECT doc_id,
                   CAST(100 + doc_id % 400 AS BIGINT) n_samples,
                   1 n_channels, 8000 sample_rate,
                   round((100 + doc_id % 400) / 8000.0, 6) duration_s,
                   round(abs((doc_id * 37) % 30000 - 15000) / 32768.0,
                         6) rms,
                   CAST(0.0 AS DOUBLE) zcr
            FROM documents
        """,
        "stac_flagship": f"""
            SELECT id, strftime(datetime, '%Y-%m-%d %H:%M:%S') dt
            FROM read_parquet('{_S}')
            WHERE bbox.xmin <= -106.0 AND bbox.xmax >= -106.1
              AND bbox.ymin <= 40.6 AND bbox.ymax >= 40.5
              AND coalesce(end_datetime, datetime)
                    >= TIMESTAMP '2024-01-01 00:00:00'
              AND coalesce(start_datetime, datetime)
                    <= TIMESTAMP '2024-12-31 23:59:59'
            ORDER BY datetime LIMIT 20
        """,
        "stac_ids_collections":
            f"SELECT 'ids' AS probe, id FROM read_parquet('{_S}') "
            f"WHERE id IN ('item-0042', 'item-0007') "
            f"UNION ALL "
            f"SELECT 'collections', id FROM read_parquet('{_S}') "
            f"WHERE collection IN ('collection-a')",
        "stac_intersects":
            f"SELECT 'point' AS probe, id FROM read_parquet('{_S}') "
            f"WHERE bbox.xmin <= -106.0 AND bbox.xmax >= -106.0 "
            f"AND bbox.ymin <= 40.5 AND bbox.ymax >= 40.5 "
            f"UNION ALL "
            f"SELECT 'multipolygon', id FROM read_parquet('{_S}') "
            f"WHERE (bbox.xmin <= -106.0 AND bbox.xmax >= -106.1 "
            f"AND bbox.ymin <= 40.6 AND bbox.ymax >= 40.5) "
            f"OR (bbox.xmin <= 57.3 AND bbox.xmax >= 57.1 "
            f"AND bbox.ymin <= -59.9 AND bbox.ymax >= -60.1)",
        "stac_datetime":
            f"SELECT 'open' AS probe, id FROM read_parquet('{_S}') "
            f"WHERE coalesce(start_datetime, datetime) "
            f"<= TIMESTAMP '2024-12-02 00:00:00' "
            f"UNION ALL "
            f"SELECT 'interval', id FROM read_parquet('{_SI}') "
            f"WHERE coalesce(end_datetime, datetime) "
            f">= TIMESTAMP '2026-04-15 00:00:00' "
            f"AND coalesce(start_datetime, datetime) "
            f"<= TIMESTAMP '2026-04-15 00:00:00'",
        "stac_cql2_scalar":
            f"SELECT 'eq_and_lt' AS probe, id, \"eo:cloud_cover\" cloud "
            f"FROM read_parquet('{_S}') "
            f'WHERE "sat:relative_orbit" = 98 AND "eo:cloud_cover" < 50 '
            f"UNION ALL "
            f"SELECT 'arith', id, \"eo:cloud_cover\" "
            f"FROM read_parquet('{_S}') "
            f'WHERE "eo:cloud_cover" * 2 + 1 < "sat:relative_orbit" - 40 '
            f"UNION ALL "
            f"SELECT 'shortcircuit', id, \"eo:cloud_cover\" "
            f"FROM read_parquet('{_S}') WHERE false",
        "stac_cql2_extended":
            f"SELECT 'spatial' AS probe, id FROM read_parquet('{_S}') "
            f"WHERE bbox.xmin <= -106.0 AND bbox.xmax >= -106.1 "
            f"AND bbox.ymin <= 40.6 AND bbox.ymax >= 40.5 "
            f'AND "eo:cloud_cover" < 50 '
            f"UNION ALL "
            f"SELECT 'array', id FROM read_parquet('{_S}') "
            f"WHERE list_has_all([CASE WHEN \"sat:relative_orbit\" % 2 = 0 "
            f"THEN 'even' ELSE 'odd' END, 'all'], ['all', 'even']) "
            f'AND "eo:cloud_cover" < 50 '
            f"UNION ALL "
            f"SELECT 'temporal', id FROM read_parquet('{_S}') "
            f"WHERE datetime > TIMESTAMP '2024-06-01 00:00:00' "
            f"AND datetime < TIMESTAMP '2024-09-01 00:00:00'",
        "stac_sort_page":
            f'SELECT id, "eo:cloud_cover" cloud FROM read_parquet(\'{_S}\') '
            f'ORDER BY "eo:cloud_cover" DESC, id LIMIT 10 OFFSET 5',
        "stac_collections_extent": f"""
            SELECT collection,
                   min(bbox.xmin) xmin, min(bbox.ymin) ymin,
                   max(bbox.xmax) xmax, max(bbox.ymax) ymax,
                   strftime(min(coalesce(start_datetime, datetime)),
                            '%Y-%m-%d %H:%M:%S') t0,
                   strftime(max(coalesce(end_datetime, datetime)),
                            '%Y-%m-%d %H:%M:%S') t1
            FROM read_parquet('{_S}') GROUP BY collection
        """,
        "stac_frequency": f"""
            SELECT 'datetime' probe,
                   strftime(date_trunc('month',
                       coalesce(start_datetime, datetime)),
                       '%Y-%m-%d %H:%M:%S') bucket,
                   count(*) frequency
            FROM read_parquet('{_S}') GROUP BY 1, 2
            UNION ALL
            SELECT 'grid',
                   CAST({6 << 58} + (greatest(0, least(63,
                     CAST(floor(((bbox.ymin+bbox.ymax)/2.0+90)/180*64
                          ) AS BIGINT))) * 536870912)
                 + greatest(0, least(63,
                     CAST(floor(((bbox.xmin+bbox.xmax)/2.0+180)/360*64
                          ) AS BIGINT))) AS VARCHAR),
                   count(*)
            FROM read_parquet('{_S}') GROUP BY 1, 2
        """,
        "dedup_exact":
            "SELECT sha256(text) fingerprint, min(doc_id) keep_id, "
            "count(*) n_copies FROM documents GROUP BY sha256(text)",
        "doc_tokens": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk
              FROM documents),
            bg AS (
              SELECT DISTINCT array_to_string(tk[i:i+7], ' ') g
              FROM toks, unnest(generate_series(1, len(tk) - 7)) AS u(i)
              WHERE doc_id % 50 = 0 AND len(tk) >= 8),
            dg AS (
              SELECT doc_id, array_to_string(tk[i:i+7], ' ') g
              FROM toks, unnest(generate_series(1, len(tk) - 7)) AS u(i)
              WHERE len(tk) >= 8),
            hits AS (
              SELECT doc_id, count(*) n
              FROM dg JOIN bg USING (g) GROUP BY 1),
            base AS (
              SELECT d.doc_id, d.source,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text),
                                                         '\s+'))
                     END n_tokens,
                     len(regexp_extract_all(text,
                         ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) n_bpe,
                     sha256(text) fp,
                     coalesce(h.n, 0) n_contam
              FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id),
            seq AS (
              SELECT doc_id, source, n_tokens,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY doc_id) rn
              FROM base),
            -- greedy in-order 256-token packing per source shard:
            -- same semantics as textops/packing.pack_documents
            packs AS (
              SELECT source, doc_id, rn,
                     CAST(0 AS BIGINT) pack_id, CAST(0 AS BIGINT) pack_pos,
                     n_tokens run
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.source, s.doc_id, s.rn,
                     CASE WHEN p.run + s.n_tokens > 256
                          THEN p.pack_id + 1 ELSE p.pack_id END,
                     CASE WHEN p.run + s.n_tokens > 256
                          THEN 0 ELSE p.pack_pos + 1 END,
                     CASE WHEN p.run + s.n_tokens > 256
                          THEN s.n_tokens ELSE p.run + s.n_tokens END
              FROM seq s JOIN packs p
                ON s.source IS NOT DISTINCT FROM p.source
               AND s.rn = p.rn + 1)
            SELECT b.doc_id, b.source, b.n_tokens, b.n_bpe, b.fp,
                   b.n_contam, p.pack_id, p.pack_pos
            FROM base b JOIN packs p ON p.doc_id = b.doc_id
        """,
        "doc_text_stats": f"""
            WITH t AS (SELECT doc_id, text,
                list_distinct(regexp_split_to_array(trim(lower(text)),
                                                    '\\s+')) toks,
                length(text) n_chars,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                END n_tokens
              FROM documents),
            s AS (SELECT doc_id, n_chars, n_tokens, toks, {lang_votes},
                CASE WHEN n_chars = 0 THEN 0.0
                     ELSE (n_chars - length(regexp_replace(text,
                          '[.,!?;:]', '', 'g'))) * 1.0 / n_chars
                END pr,
                CASE WHEN len(toks) <= 0 THEN 0.0
                     ELSE len(list_intersect(toks, {_STOP_EN})) * 1.0
                          / len(toks) END sr
              FROM t)
            SELECT doc_id, n_chars, n_tokens, round(pr, 6) punct_ratio,
                   round(sr, 6) stopword_ratio,
                   round(((CASE WHEN n_chars BETWEEN 100 AND 20000
                                THEN 1.0 ELSE 0.5 END)
                        + (CASE WHEN pr < 0.1 THEN 1.0 ELSE 0.5 END)
                        + (CASE WHEN sr > 0.01 THEN 1.0 ELSE 0.5 END))
                        / 3.0, 6) quality,
                   CASE WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'und'
                        WHEN v_de = greatest(v_de, v_en, v_es, v_fr) THEN 'de'
                        WHEN v_en = greatest(v_de, v_en, v_es, v_fr) THEN 'en'
                        WHEN v_es = greatest(v_de, v_en, v_es, v_fr) THEN 'es'
                        ELSE 'fr' END lang_pred
            FROM s
        """,
        "doc_quality_rules": r"""
            WITH t AS (SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') tk
              FROM documents),
            g AS (SELECT doc_id, tk,
                CASE WHEN len(tk) >= 2 THEN list_transform(
                       range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                     ELSE []::VARCHAR[] END g2,
                CASE WHEN len(tk) >= 3 THEN list_transform(
                       range(1, len(tk)-1),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                     ELSE []::VARCHAR[] END g3
              FROM t),
            m AS (SELECT doc_id, len(tk) n_tokens,
                CASE WHEN len(tk) <= 0 THEN 0.0 ELSE
                  1.0 - len(list_distinct(tk)) * 1.0 / len(tk) END dwf,
                CASE WHEN len(tk) <= 0 THEN 0.0 ELSE
                  list_max(list_transform(list_distinct(tk),
                    x -> len(list_filter(tk, y -> y = x))))
                  * 1.0 / len(tk) END twf,
                CASE WHEN len(g2) <= 0 THEN 0.0 ELSE
                  list_max(list_transform(list_distinct(g2),
                    x -> len(list_filter(g2, y -> y = x))))
                  * 1.0 / len(g2) END tbf,
                CASE WHEN len(g3) <= 0 THEN 0.0 ELSE
                  list_max(list_transform(list_distinct(g3),
                    x -> len(list_filter(g3, y -> y = x))))
                  * 1.0 / len(g3) END ttf
              FROM g)
            SELECT doc_id, n_tokens,
                   round(dwf, 6) dup_word_frac,
                   round(twf, 6) top_word_frac,
                   round(tbf, 6) top_bigram_frac,
                   round(ttf, 6) top_trigram_frac,
                   CAST(round(tbf, 6) <= 0.20 AND round(ttf, 6) <= 0.18
                        AND round(dwf, 6) <= 0.90 AS INT) gopher_pass
            FROM m
        """,
        "doc_chunks": r"""
            WITH t AS (SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') tk
              FROM documents),
            s AS (SELECT doc_id, tk,
                unnest(generate_series(0,
                    CAST(greatest(0, floor((len(tk)-1)/32)*32) AS BIGINT),
                    32)) cs
              FROM t),
            c AS (SELECT doc_id, cs chunk_start,
                array_to_string(tk[cs+1:cs+40], ' ') chunk_text
              FROM s)
            SELECT doc_id, chunk_start, chunk_text,
                   CASE WHEN length(chunk_text) = 0 THEN 0
                        ELSE len(string_split_regex(chunk_text, '\s+'))
                   END n_chunk_tokens
            FROM c
        """,
        "doc_pii_scrub": _pii_sql(),
        "doc_c4_filters": r"""
            WITH d AS (SELECT doc_id,
                replace(text, ' table ', '.' || chr(10)) AS text
              FROM documents),
            t AS (SELECT doc_id, text,
                string_split(text, chr(10)) lines FROM d),
            k AS (SELECT doc_id, text, lines,
                list_filter(lines, l ->
                  (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
                   OR ends_with(trim(l), '?')
                   OR ends_with(trim(l), '"'))
                  AND (CASE WHEN length(trim(l)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(l), '\s+'))
                       END) >= 3) kept
              FROM t)
            SELECT doc_id,
                   coalesce(array_to_string(kept, chr(10)), '') clean_text,
                   len(lines) n_lines_total,
                   len(kept) n_lines_kept,
                   CAST(len(kept) > 0
                        AND NOT (contains(lower(text), 'lorem ipsum')
                                 OR contains(lower(text), 'javascript'))
                        AS INT) c4_keep
            FROM k
        """,
        "doc_top_terms": r"""
            WITH toks AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(text), '\s+')) term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) tf
                   FROM toks GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*) df FROM tf GROUP BY term),
            n AS (SELECT count(*) n_docs FROM documents),
            s AS (SELECT doc_id, term,
                    tf * ln(n_docs / df) score,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY tf * ln(n_docs / df) DESC, term) rk
                  FROM tf JOIN dfreq USING(term) CROSS JOIN n)
            SELECT doc_id, term, round(score, 6) score, rk
            FROM s WHERE rk <= 3
        """,
        "doc_length_quantiles": """
            SELECT lang, count(*) n_docs,
                   round(quantile_cont(n_chars, 0.5), 6) p50_chars,
                   round(quantile_cont(n_chars, 0.9), 6) p90_chars,
                   round(quantile_cont(n_chars, 0.99), 6) p99_chars
            FROM documents GROUP BY lang
        """,
        "doc_sample_stratified": """
            SELECT doc_id, lang, source FROM documents
            WHERE CAST(('0x' || substr(sha256(doc_id::VARCHAR || ':r3'),
                                       1, 15)) AS BIGINT) % 1000000
                  < CASE lang WHEN 'de' THEN 300000
                              WHEN 'en' THEN 500000
                              WHEN 'fr' THEN 200000
                              ELSE 100000 END
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id query_id, embedding qvec
                       FROM embeddings WHERE vec_id < 10),
            d AS (SELECT q.query_id, e.vec_id,
                    round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                 q.qvec::DOUBLE[]), 6) sim
                  FROM q, embeddings e WHERE e.vec_id <> q.query_id)
            SELECT query_id, rank, vec_id, sim cosine_sim FROM (
              SELECT query_id, vec_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) rank
              FROM d) WHERE rank <= 5
        """,
        "embedding_near_dups": """
            SELECT a.vec_id a, b.vec_id b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]),
                         6) cosine_sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]) >= 0.2
        """,
        "embedding_semdedup": """
            SELECT e.vec_id, e.label FROM embeddings e
            WHERE NOT EXISTS (
              SELECT 1 FROM embeddings o
              WHERE o.label = e.label AND o.vec_id < e.vec_id
                AND round(list_cosine_similarity(o.embedding::DOUBLE[],
                                                 e.embedding::DOUBLE[]),
                          6) >= 0.2)
        """,
        "events_sessionize": """
            WITH l AS (
              SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > 1800 * 1000000
                     THEN 1 ELSE 0 END nw
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (
              SELECT user_id, ts, value,
                CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) session_id
              FROM l)
            SELECT user_id, session_id, count(*) n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') t_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') t_end,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,6)))
                             AS DECIMAL(18,6)) AS VARCHAR) sum_value
            FROM s GROUP BY 1, 2
        """,
        "ngram_jaccard": """
            WITH sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(1, length(text)-2)),
                i -> text[i:i+2]))) sh
              FROM documents),
            sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
            inter AS (SELECT x.doc_id a, y.doc_id b, count(*) i
                      FROM sh x JOIN sh y
                        ON x.sh = y.sh AND x.doc_id < y.doc_id
                      GROUP BY 1, 2)
            SELECT a, b, round(i*1.0/(na.n + nb.n - i), 6) jaccard
            FROM inter JOIN sizes na ON na.doc_id = a
                       JOIN sizes nb ON nb.doc_id = b
            WHERE i*1.0/(na.n + nb.n - i) >= 0.7
        """,
        "dedup_clusters": """
            WITH RECURSIVE sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(1, length(text)-2)),
                i -> text[i:i+2]))) sh
              FROM documents),
            sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
            inter AS (SELECT x.doc_id a, y.doc_id b, count(*) i
                      FROM sh x JOIN sh y
                        ON x.sh = y.sh AND x.doc_id < y.doc_id
                      GROUP BY 1, 2),
            p AS (SELECT a, b
                  FROM inter JOIN sizes na ON na.doc_id = a
                             JOIN sizes nb ON nb.doc_id = b
                  WHERE i*1.0/(na.n + nb.n - i) >= 0.7),
            e AS (SELECT a u, b v FROM p UNION SELECT b, a FROM p),
            walk(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT w.u, e2.v FROM walk w JOIN e e2 ON w.v = e2.u),
            -- cluster id = min id reachable (incl. self)
            cc AS (SELECT u, least(u, min(v)) m FROM walk GROUP BY u)
            SELECT u doc_id, m cluster_id FROM cc
        """,
        "dedup_retained": r"""
            WITH RECURSIVE sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(1, length(text)-2)),
                i -> text[i:i+2]))) sh
              FROM documents),
            sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
            inter AS (SELECT x.doc_id a, y.doc_id b, count(*) i
                      FROM sh x JOIN sh y
                        ON x.sh = y.sh AND x.doc_id < y.doc_id
                      GROUP BY 1, 2),
            p AS (SELECT a, b
                  FROM inter JOIN sizes na ON na.doc_id = a
                             JOIN sizes nb ON nb.doc_id = b
                  WHERE i*1.0/(na.n + nb.n - i) >= 0.7),
            e AS (SELECT a u, b v FROM p UNION SELECT b, a FROM p),
            walk(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT w.u, e2.v FROM walk w JOIN e e2 ON w.v = e2.u),
            cc AS (SELECT u, least(u, min(v)) m FROM walk GROUP BY u)
            SELECT d.doc_id, d.lang FROM documents d
            WHERE d.doc_id NOT IN (SELECT u FROM cc WHERE u <> m)
        """,
        "events_range_join": """
            SELECT l.event_id, l.user_id, r.event_id err_id,
                   strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') ts,
                   strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') err_ts
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') l
            JOIN (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'error') r
              ON l.user_id = r.user_id
             AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= CAST(7200 AS BIGINT) * 1000000
        """,
        "events_asof": """
            SELECT l.event_id, l.user_id,
                   strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') ts,
                   round(l.value, 6) click_value,
                   strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') purchase_ts,
                   round(r.value, 6) purchase_value
            FROM (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN
                 (SELECT user_id, ts, value FROM events
                  WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND r.ts <= l.ts
        """,
        "events_hourly": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                            '%Y-%m-%d %H:%M') window_start,
                   event_type, count(*) n,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,6)))
                             AS DECIMAL(18,6)) AS VARCHAR) sum_value
            FROM events GROUP BY 1, 2
        """,
        "rel_groupby_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
                             AS DECIMAL(18,6)) AS VARCHAR) sum_qty,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                             AS DECIMAL(18,6)) AS VARCHAR) sum_price,
                   count(*) n
            FROM lineitem GROUP BY 1, 2
        """,
        "rel_multi_join": """
            SELECT r_name, count(*) n_orders,
                   CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                             AS DECIMAL(18,6)) AS VARCHAR) sum_total
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "rel_window_topk": """
            SELECT o_custkey, rnk, o_orderkey FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC,
                                                 o_orderkey) rnk
              FROM orders) WHERE rnk <= 3
        """,
        # end state after the gate's transaction script: fixture items
        # minus the deleted item-0000, plus the three added items as
        # literal rows with item-t1 reflecting its post-upsert version
        # (bbox == point, start/end datetime absent → coalesce falls
        # back to datetime, same as the Spark agg). collection-c was
        # created then DELETEd so it contributes nothing; the listing
        # facts are literals: 2 surviving collections, collection-b's
        # description replaced by the PUT.
        "stac_transactions": f"""
            WITH t AS (
              SELECT collection, bbox.xmin x0, bbox.ymin y0,
                     bbox.xmax x1, bbox.ymax y1,
                     coalesce(start_datetime, datetime) s,
                     coalesce(end_datetime, datetime) e
              FROM read_parquet('{_S}') WHERE id <> 'item-0000'
              UNION ALL
              SELECT * FROM (VALUES
                ('collection-b', 12.0, 22.0, 12.0, 22.0,
                 TIMESTAMP '2025-06-01 00:00:00',
                 TIMESTAMP '2025-06-01 00:00:00'),
                ('collection-b', 11.5, 21.5, 11.5, 21.5,
                 TIMESTAMP '2025-04-01 00:00:00',
                 TIMESTAMP '2025-04-01 00:00:00'),
                ('collection-a', -100.0, 40.0, -100.0, 40.0,
                 TIMESTAMP '2025-05-01 00:00:00',
                 TIMESTAMP '2025-05-01 00:00:00')))
            SELECT collection, count(*) n_items,
                   round(min(x0), 6) xmin, round(min(y0), 6) ymin,
                   round(max(x1), 6) xmax, round(max(y1), 6) ymax,
                   strftime(min(s), '%Y-%m-%d %H:%M:%S') t0,
                   strftime(max(e), '%Y-%m-%d %H:%M:%S') t1,
                   2 AS n_collections,
                   'replaced-by-put' AS desc_b
            FROM t GROUP BY collection
        """,
        # minhash_near_dups, simhash_near_dups: intentionally no SQL
        # oracle (outputs depend on the engine's own hash families) —
        # verified in tests/ against independent Python oracles.
    }
