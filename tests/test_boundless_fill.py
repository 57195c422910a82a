"""Boundless nodata/nan fill rows (J4), built on the driver.

A cover key with no stored tile — off the tile grid, or an in-grid hole
in the tile table — gets one NULL-payload kernel row, whose pixels all
count as nodata, as a boundless read fills them (reference io.py:331-340).
Over a corpus with in-grid holes, a zone partly and a zone wholly off the
grid, a NaN pixel and overlapping zones, every path gives the rows of
kernel.zonal_stats_one over the same raster with the holes set to nodata:
the broadcast regime, the SMJ regime, an unpruned scan and the
checkpointed pipeline. Counts are exact, moments within rel 1e-12.
"""

import numpy as np
import pytest

from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.operators.zonal import zonal_stats_df
from python_rasterstats_spark.plans.lineage import checkpointed_zonal
from python_rasterstats_spark.sources.tables import (
    ZONES_DDL, load_corpus, raster_to_tables,
)

AFF = (1.0, 0.0, 0.0, 0.0, -1.0, 20.0)
TILE = 8
DROPPED = [(1, 1), (2, 0)]  # (tile_col, tile_row) holes in the tile table
STATS = ["count", "mean", "nodata", "nan"]
COUNTS = ("count", "nodata", "nan")


def _double_plus_one(m):
    return m * 2.0 + 1.0


ZONES = [
    G.box(-5.5, 10.5, 6.5, 24.5),     # partly off the grid (left, top)
    G.box(30.0, 2.0, 36.0, 9.0),      # wholly off the grid (right)
    G.box(3.5, 2.5, 19.5, 15.5),      # over both holes and the NaN pixel
    G.box(6.0, 6.0, 25.5, 13.0),      # overlaps zone 2, leaves the grid
    {"type": "Polygon", "coordinates": [
        [(9.0, 3.0), (22.0, 19.0), (2.0, 17.0), (9.0, 3.0)]]},
]


def _raster():
    """(stored array, oracle array): 20×24 px in 8-px tiles (3×3 grid,
    short last row and column), nodata -1, one NaN pixel; the oracle
    array has the dropped tiles' pixels set to nodata."""
    arr = np.arange(20 * 24, dtype=np.float32).reshape(20, 24) % 37
    arr[5, 12] = np.nan
    arr[3, 4] = arr[17, 5] = -1.0
    oracle = arr.copy()
    for tc, tr in DROPPED:
        oracle[tr * TILE:(tr + 1) * TILE, tc * TILE:(tc + 1) * TILE] = -1.0
    return arr, oracle


@pytest.fixture(scope="module")
def holes_dir(spark, tmp_path_factory):
    """The corpus as parquet tables (load_corpus' layout)."""
    arr, _ = _raster()
    tiles, datasets = raster_to_tables(
        spark, arr, AFF, dataset="holes", nodata=-1.0, tile=TILE
    )
    keep = " AND ".join(
        f"NOT (tile_col = {c} AND tile_row = {r})" for c, r in DROPPED
    )
    zones = spark.createDataFrame([
        {"zone_id": i, "collection": "t", "geometry_wkb": G.wkb_dumps(g),
         "geom_type": g["type"], "properties": {}}
        for i, g in enumerate(ZONES)
    ], schema=ZONES_DDL)
    d = tmp_path_factory.mktemp("holes")
    tiles.filter(keep).write.parquet(str(d / "tiles.parquet"))
    zones.write.parquet(str(d / "zones.parquet"))
    datasets.write.parquet(str(d / "datasets.parquet"))
    return str(d)


def _oracle(zone_func=None):
    _, oracle = _raster()
    return {
        i: K.zonal_stats_one(g, oracle, AFF, nodata=-1.0, stats=STATS,
                             zone_func=zone_func, boundless=True)
        for i, g in enumerate(ZONES)
    }


def _assert_rows(got: dict, want: dict):
    assert got.keys() == want.keys()
    for zid, w in want.items():
        for s in STATS:
            g = got[zid][s]
            assert (g is None) == (w[s] is None), (zid, s, g, w[s])
            if s in COUNTS:
                assert g == w[s], (zid, s)
            elif g is not None:
                assert g == pytest.approx(w[s], rel=1e-12), (zid, s)


@pytest.mark.parametrize("zone_func", [None, _double_plus_one])
@pytest.mark.parametrize("path", ["broadcast", "smj", "unpruned"])
def test_fill_matches_boundless_oracle(spark, holes_dir, path, zone_func):
    tiles, zones, datasets = load_corpus(spark, holes_dir)
    df = zonal_stats_df(
        zones, tiles, datasets, dataset="holes", stats=STATS,
        zone_func=zone_func, broadcast_zones=path != "smj",
        prune_tiles=path != "unpruned",
    )
    got = {r["zone_id"]: r.asDict() for r in df.collect()}
    want = _oracle(zone_func)
    # the corpus exercises every kind of missing pixel
    assert want[1]["count"] == 0 and want[1]["nodata"] > 0
    assert want[0]["count"] > 0 and want[2]["nan"] == 1
    _assert_rows(got, want)


def test_checkpointed_fill_matches_boundless_oracle(spark, holes_dir, tmp_path):
    got, _ = checkpointed_zonal(
        spark, holes_dir, str(tmp_path / "ckpt"), dataset="holes", stats=STATS,
    )
    _assert_rows({r["zone_id"]: r.asDict() for r in got.collect()}, _oracle())
