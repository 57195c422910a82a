"""The front half (operators/zonal.front_half) serves zonal, crosstab and
point in both regimes.

- Building each operator × regime plan runs no more Spark jobs than
  before the three operators shared it: 2 for every broadcast build, 5
  for SMJ zonal, 4 for SMJ point; SMJ crosstab drops from 6 to 5, its
  separate union-bbox job folded into the one sizing summary.
- Crosstab's SMJ regime sizes its zones in one evaluation of the sizing
  pass, and its rows equal the broadcast regime's.
"""

import pytest
from pyspark.sql import functions as F

from python_rasterstats_spark.operators import zonal as Z
from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df
from python_rasterstats_spark.operators.point import point_query_df
from python_rasterstats_spark.operators.zonal import zonal_stats_df

from .test_one_wave import _in_job_group

XTAB = dict(value_dataset="slope", class_dataset="slope_classes")

# jobs a build ran before the front half was shared, per (operator,
# broadcast regime), on the fixture corpus
BEFORE = {
    ("zonal", True): 2, ("crosstab", True): 2, ("point", True): 2,
    ("zonal", False): 5, ("crosstab", False): 6, ("point", False): 4,
}


def _build(op, broadcast, tiles, zones, datasets):
    polys = zones.filter(F.col("collection") == "polygons")
    if op == "zonal":
        return zonal_stats_df(
            polys, tiles, datasets, dataset="slope",
            stats=["count", "mean", "median"], broadcast_zones=broadcast,
        )
    if op == "crosstab":
        return zonal_crosstab_df(
            polys, tiles, datasets, broadcast_zones=broadcast, **XTAB
        )
    return point_query_df(
        zones.filter(F.col("collection") == "query_points"), tiles, datasets,
        dataset="slope", broadcast_vertices=broadcast,
    )


@pytest.mark.parametrize("broadcast", [True, False])
@pytest.mark.parametrize("op", ["zonal", "crosstab", "point"])
def test_build_job_counts(spark, corpus, op, broadcast):
    tiles, zones, datasets = corpus
    df, jobs = _in_job_group(
        spark, lambda: _build(op, broadcast, tiles, zones, datasets)
    )
    assert len(jobs) <= BEFORE[(op, broadcast)], jobs
    if (op, broadcast) == ("crosstab", False):
        assert len(jobs) < BEFORE[(op, broadcast)], jobs
    assert df.count() > 0


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_crosstab_smj_sizes_zones_once(spark, corpus):
    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    out, jobs = _in_job_group(spark, lambda: zonal_crosstab_df(
        polys, tiles, datasets, broadcast_zones=False, **XTAB
    ))
    assert Z._LAST_SIZING_ACC.value == polys.count()
    assert len(jobs) < BEFORE[("crosstab", False)], jobs
    want = _rows(zonal_crosstab_df(polys, tiles, datasets, **XTAB))
    got = _rows(out)
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:2] == w[:2]
        assert g[2:] == pytest.approx(w[2:], rel=1e-9)
