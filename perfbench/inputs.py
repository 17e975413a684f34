"""Seeded inputs. The seed sets the page row-id offset, the item-table
draws and the request-mix draws; the engine only ever sees the
generated tables and requests. Seed 0 reproduces the committed
``pages_sf*`` fixtures row for row (row ids start at 0), so seed 0 over
``query_id < 68`` is bench.py's input at the same scale.

Generated tables are cached by (seed, size) under WORK/inputs, written
to a temp name and renamed into place, so an interrupted run never
leaves a half-written cache entry.
"""

from __future__ import annotations

import os
import shutil
import uuid

from .common import WORK

ROW_OFFSET_STRIDE = 1_000_000_000  # disjoint row ids per seed


def row_offset(seed: int) -> int:
    return seed * ROW_OFFSET_STRIDE


def _cached(path: str, build) -> str:
    """`path`, after `build(tmp_path)` wrote it on a cache miss."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        build(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def pages_path(seed: int, n: int) -> str:
    """Raw pages (url, warc_ts, html, text, lang) for rows
    [offset, offset + n), from synth.pages_batch on the driver, written
    with pyarrow as four files, one per core."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rustac_spark.synth import pages_batch

    def build(p):
        os.makedirs(p)
        ids = np.arange(row_offset(seed), row_offset(seed) + n)
        for k, part in enumerate(np.array_split(ids, 4)):
            t = pa.Table.from_pandas(pages_batch(part), preserve_index=False)
            # warc_ts is naive UTC: store it as a UTC instant, as Spark does
            t = t.set_column(1, "warc_ts", t["warc_ts"].cast(
                pa.timestamp("us", tz="UTC")))
            pq.write_table(t, os.path.join(p, f"part-{k}.parquet"))
        open(os.path.join(p, "_SUCCESS"), "w").close()

    path = os.path.join(WORK, "inputs", f"pages_s{seed}_n{n}.parquet")
    return _cached(path, build)


def items_path(seed: int, n: int) -> str:
    """Flat STAC item table from the seed's synthesized pages, built on
    the driver with the kernels ``with_geocode(geometry=True)`` runs per
    batch (geocode_pandas, footprint_wkb_batch) and written with
    pyarrow: collection = lang (8 collections), datetime = warc_ts,
    ``eo:cloud_cover`` hashed from (seed, row). Four files, so a
    copy-on-write upsert rewrites a quarter of the table.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rustac_spark.geocode import footprint_wkb_batch, geocode_pandas
    from rustac_spark.hashing import stable_hash_batch
    from rustac_spark.synth import pages_batch

    def build(p):
        ids = np.arange(row_offset(seed), row_offset(seed) + n)
        pages = pages_batch(ids)
        g = geocode_pandas(pages["url"])
        cloud = (stable_hash_batch([f"{seed}:cloud:{i}" for i in ids])
                 % np.uint64(10001)).astype(np.float64) / 100.0
        bbox = pa.StructArray.from_arrays(
            [pa.array(g[c].to_numpy()) for c in ("xmin", "ymin", "xmax",
                                                 "ymax")],
            names=["xmin", "ymin", "xmax", "ymax"])
        ts = pa.timestamp("us", tz="UTC")
        table = pa.table({
            "type": pa.array(["Feature"] * n),
            "stac_version": pa.array(["1.1.0"] * n),
            "stac_extensions": pa.array([[]] * n, pa.list_(pa.string())),
            "id": pa.array([f"it-{i}" for i in ids]),
            "collection": pa.array(pages["lang"]),
            "geometry": pa.array(footprint_wkb_batch(g), pa.binary()),
            "bbox": bbox,
            "datetime": pa.array(pd.to_datetime(pages["warc_ts"], utc=True),
                                 ts),
            "start_datetime": pa.nulls(n, ts),
            "end_datetime": pa.nulls(n, ts),
            "eo:cloud_cover": pa.array(cloud),
        })
        os.makedirs(p)
        for k, part in enumerate(np.array_split(np.arange(n), 4)):
            pq.write_table(table.take(part),
                           os.path.join(p, f"part-{k}.parquet"))
        open(os.path.join(p, "_SUCCESS"), "w").close()

    path = os.path.join(WORK, "inputs", f"items_s{seed}_n{n}.parquet")
    return _cached(path, build)


def read_items(path: str):
    """The item table's key columns as pandas, read with pyarrow (no
    Spark job): the copy the expected answers are computed from."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["id", "collection", "bbox", "datetime",
                                     "eo:cloud_cover"]).to_pandas()
    for c in ("xmin", "ymin", "xmax", "ymax"):
        t[c] = [b[c] for b in t["bbox"]]
    t["datetime"] = t["datetime"].dt.tz_convert(None)  # naive UTC
    return t.rename(columns={"eo:cloud_cover": "cloud"})
