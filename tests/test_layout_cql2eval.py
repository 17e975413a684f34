"""Subdivided-join equality + single-item CQL2 evaluation."""

import pytest
from pyspark.sql import functions as F

from rustac_spark import DATA_DIR
from rustac_spark.geo.join import spatial_join
from rustac_spark.geocode import with_geocode
from cql2_oracle import matches


@pytest.fixture(scope="module")
def pages_geo(spark):
    df = with_geocode(
        spark.read.parquet(f"{DATA_DIR}/pages_sf0.001.parquet")
    ).drop("html", "text")
    df.cache().count()
    return df


def test_subdivided_join_equals_plain(spark, pages_geo, queries_df):
    plain = {(r["query_id"], r["url"])
             for r in spatial_join(pages_geo, queries_df,
                                   page_cols=["url"]).collect()}
    sub = {(r["query_id"], r["url"])
           for r in spatial_join(pages_geo, queries_df, page_cols=["url"],
                                 subdivide_threshold=300).collect()}
    assert sub == plain and len(plain) > 0


def test_cql2_single_item_matches():
    item = {"id": "x", "sat:relative_orbit": 98, "eo:cloud_cover": 12.5,
            "name": "Alpha", "missing": None}
    assert matches("sat:relative_orbit = 98", item)
    assert not matches("sat:relative_orbit = 99", item)
    assert matches("eo:cloud_cover between 10 and 20", item)
    assert matches("casei(name) = 'alpha'", item)
    assert matches("name like 'Al%'", item)
    assert matches("missing is null", item)
    # three-valued logic: NULL comparison → no match, but OR can rescue
    assert not matches("missing = 5", item)
    assert matches("missing = 5 or id = 'x'", item)
    assert not matches("not missing = 5", item)  # NOT NULL → NULL
    assert matches("id in ('x', 'y')", item)
    assert matches({"op": "=", "args": [{"property": "id"}, "x"]}, item)
