"""Storage layout: cell-clustered parquet writes.

The reference's only index structure is the GeoParquet bbox `covering`
metadata + parquet column stats (crates/core/src/geoparquet.rs:397-435
— SURVEY.md §4 'bbox covering / min-max skipping'). The Spark analog:
write the prepared table range-partitioned AND sorted by cell, so each
file's min/max stats on (cell, xmin..ymax) are tight and both Spark's
row-group pruning and our cell equi-join scan only the relevant
slices. At 10^12 rows this is the difference between touching ~all
files and touching the few covering the query region.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..geo.cells import DEFAULT_RES, cell_of_point


def with_anchor_cell(df: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    return df.withColumn(
        "cell", cell_of_point(F.col("lon"), F.col("lat"), res))


def write_clustered(prepared: DataFrame, path: str,
                    res: int = DEFAULT_RES,
                    num_files: int | None = None) -> None:
    """Range-partition by cell + sort within partitions → spatially
    clustered files with tight min/max stats."""
    df = with_anchor_cell(prepared, res)
    n = num_files or max(8, df.sparkSession.sparkContext.defaultParallelism)
    (df.repartitionByRange(n, "cell")
       .sortWithinPartitions("cell")
       .write.mode("overwrite").parquet(path))


def write_partitioned(prepared: DataFrame, path: str,
                      part_res: int = 4,
                      cluster_res: int = DEFAULT_RES) -> None:
    """Hive-partition by a coarse cell (res=4 ⇒ ≤256 directories) and
    cluster by the fine cell inside each partition. Spatial predicates
    on pcell become PartitionFilters — Spark prunes whole directories
    before listing files (static partition pruning, SURVEY.md §4),
    the Iceberg-style partition layout for the 10^12-row table."""
    df = with_anchor_cell(prepared, cluster_res).withColumn(
        "pcell", cell_of_point(F.col("lon"), F.col("lat"), part_res))
    (df.repartition("pcell")
       .sortWithinPartitions("cell")
       .write.mode("overwrite")
       .partitionBy("pcell")
       .parquet(path))


def partition_pruned_read(spark, path: str,
                          qxmin: float, qymin: float,
                          qxmax: float, qymax: float,
                          part_res: int = 4) -> DataFrame:
    """Read only the partitions whose coarse cell intersects the query
    bbox — the pcell IN (...) predicate is a pure partition filter."""
    from ..geo.cells import cover_bbox
    cells_row = (spark.range(1).select(cover_bbox(
        F.lit(qxmin), F.lit(qymin), F.lit(qxmax), F.lit(qymax),
        part_res).alias("c")).collect()[0]["c"])
    df = spark.read.parquet(path)
    return df.where(F.col("pcell").isin([int(c) for c in cells_row]))


def file_cell_ranges(path: str) -> list[tuple[str, int, int]]:
    """(file, min_cell, max_cell) from parquet footers — the observable
    evidence that clustering produced prunable stats."""
    import os

    import pyarrow.parquet as pq

    out = []
    for fn in sorted(os.listdir(path)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fn)).metadata
        idx = {md.schema.column(i).name: i
               for i in range(len(md.schema))}["cell"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        out.append((fn, min(mins), max(maxs)))
    return out


# ------------------------------------------------------ Z-order layout
# Morton interleave of the cell grid indices — the lakehouse Z-ORDER
# clustering technique (public: Databricks OPTIMIZE ZORDER, Delta/
# Iceberg sort orders). Row-major cell order (y·2^29 + x) keeps one
# axis local and scatters the other; interleaving bits keeps BOTH axes
# local, so square query regions touch far fewer files. Pure Column
# bit math (shift/mask "binary magic numbers"), exactly expressible in
# SQL for the oracle twin.

def _spread_bits(v):
    """Insert a zero bit between each of the low 16 bits of v."""
    masks = ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
             (2, 0x33333333), (1, 0x55555555))
    v = v.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in masks:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def zorder_key(xi, yi):
    """Morton code: interleave the bits of two grid indices (≤16 bits
    each): z = spread(x) | spread(y)<<1."""
    return _spread_bits(xi).bitwiseOR(
        F.shiftleft(_spread_bits(yi), 1))


def zorder_key_py(xi: int, yi: int) -> int:
    """Driver-side scalar twin (tests/diagnostics)."""
    def spread(v: int) -> int:
        v &= 0xFFFF
        for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                            (2, 0x33333333), (1, 0x55555555)):
            v = (v | (v << shift)) & mask
        return v
    return spread(xi) | (spread(yi) << 1)


def with_zorder_key(df: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Adds the Morton key of the (lon, lat) grid indices at res."""
    from ..geo.cells import _xi, _yi
    return df.withColumn(
        "zkey", zorder_key(_xi(F.col("lon"), res), _yi(F.col("lat"), res)))
