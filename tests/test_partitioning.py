"""Z-order (Morton) layout key: Column == scalar twin, and Morton
clustering gives 2-D-local files."""

from pyspark.sql import functions as F

from scalar_oracles import zorder_key_py


def test_zorder_key_matches_python_twin(spark):
    from rustac_spark.pipeline.layout import zorder_key

    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 5, 255, 1023, 65535)
         for y in (0, 2, 7, 512, 65535)], ["xi", "yi"])
    out = df.select("xi", "yi",
                    zorder_key(F.col("xi"), F.col("yi")).alias("z")) \
        .collect()
    for r in out:
        assert r["z"] == zorder_key_py(r["xi"], r["yi"])
    # interleave property: (x=1,y=0) -> 1, (x=0,y=1) -> 2, (1,1) -> 3
    assert zorder_key_py(1, 0) == 1
    assert zorder_key_py(0, 1) == 2
    assert zorder_key_py(1, 1) == 3


def test_zorder_files_are_2d_local(spark, tmp_path):
    """Evidence: Morton clustering yields tighter per-file bboxes than
    row-major cell clustering for the same file count — the property
    that makes square queries touch fewer files at 10^12 rows."""
    from rustac_spark.geo.cells import _xi, _yi, cell_of_point
    from rustac_spark.pipeline.layout import zorder_key

    # uniform 64×64 grid of points over a square region
    pts = [(i, -10 + 20 * (i % 64) / 63.0, -10 + 20 * (i // 64) / 63.0)
           for i in range(64 * 64)]
    df = spark.createDataFrame(pts, ["id", "lon", "lat"])

    def file_boxes(df_sorted, key):
        files = (df_sorted.repartitionByRange(64, key)
                 .sortWithinPartitions(key))
        return [(r["x0"], r["x1"], r["y0"], r["y1"]) for r in
                (files.groupBy(F.spark_partition_id().alias("p"))
                 .agg(F.min("lon").alias("x0"), F.max("lon").alias("x1"),
                      F.min("lat").alias("y0"), F.max("lat").alias("y1"))
                 ).collect()]

    # files touched by small square queries — the min/max-skipping
    # metric that decides scan cost at 10^12 rows
    queries = [(qx, qx + 2, qy, qy + 2)
               for qx in (-9.0, -4.0, 1.0, 6.0)
               for qy in (-9.0, -4.0, 1.0, 6.0)]

    def touches(boxes):
        n = 0
        for qx0, qx1, qy0, qy1 in queries:
            n += sum(1 for x0, x1, y0, y1 in boxes
                     if x0 <= qx1 and x1 >= qx0
                     and y0 <= qy1 and y1 >= qy0)
        return n

    lon, lat = F.col("lon"), F.col("lat")
    z = touches(file_boxes(
        df.withColumn("zkey", zorder_key(_xi(lon, 12), _yi(lat, 12))),
        "zkey"))
    rm = touches(file_boxes(
        df.withColumn("cell", cell_of_point(lon, lat, 12)), "cell"))
    assert z < rm * 0.7, f"zorder touches {z} not < 0.7 × row-major {rm}"
