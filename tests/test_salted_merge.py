"""Salted two-stage holistic merge (north_rule skew handling) must be
value-identical to the direct merge."""

import pytest
from pyspark.sql import functions as F

from python_rasterstats_spark.operators.zonal import zonal_stats_df

STATS = ["count", "median", "majority", "minority", "unique",
         "percentile_25", "percentile_90"]


def test_salted_merge_identical(corpus, pin_salt):
    tiles, zones, datasets = corpus
    polys = zones.filter(
        F.col("collection").isin("polygons", "multipolygons", "lines")
    )
    base = zonal_stats_df(
        polys, tiles, datasets, dataset="slope", stats=STATS
    ).orderBy("zone_id").toPandas()
    pin_salt(7)
    salted = zonal_stats_df(
        polys, tiles, datasets, dataset="slope", stats=STATS
    ).orderBy("zone_id").toPandas()
    assert base["count"].tolist() == salted["count"].tolist()
    for col in STATS[1:]:
        assert base[col].tolist() == pytest.approx(
            salted[col].tolist(), rel=0, abs=0
        ), col


def test_salted_categorical_identical(corpus, pin_salt):
    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    base = zonal_stats_df(
        polys, tiles, datasets, dataset="slope_classes", categorical=True,
        stats=["count"],
    ).orderBy("zone_id").toPandas()
    pin_salt(4)
    salted = zonal_stats_df(
        polys, tiles, datasets, dataset="slope_classes", categorical=True,
        stats=["count"],
    ).orderBy("zone_id").toPandas()
    for a, b in zip(base["value_counts"], salted["value_counts"]):
        assert (a is None) == (b is None)
        if a is not None:
            assert dict(a) == dict(b)
