"""The single tile-driven zonal plan.

- Driver-detected errors (beyond-extent with boundless=False, the
  max_cells_per_zone cap) surface when the action runs, not when the
  DataFrame is built, in both regimes.
- The boundless-nodata kernel input holds each stored tile once plus one
  NULL-payload row per cover key with no stored tile.
- The point query returns one row per (zone_id, vertex_idx) in both
  regimes when a zone_id appears under two datasets, and its
  beyond-extent error (boundless=False) also surfaces at action time.
"""

import numpy as np
import pytest

from python_rasterstats_spark import geom as G
from python_rasterstats_spark.operators.point import point_query_df
from python_rasterstats_spark.operators.zonal import (
    broadcast_cover_cells, broadcast_zone_geoms, collect_dataset_meta,
    tile_driven_input, zonal_stats_df,
)
from python_rasterstats_spark.sources.tables import ZONES_DDL, raster_to_tables

AFF = (1.0, 0.0, 0.0, 0.0, -1.0, 10.0)


def _zones_df(spark, geoms, datasets=None):
    rows = [
        {"zone_id": i, "collection": "t", "geometry_wkb": G.wkb_dumps(g),
         "geom_type": g["type"], "properties": {}}
        for i, g in enumerate(geoms)
    ]
    if datasets is None:
        return spark.createDataFrame(rows, schema=ZONES_DDL)
    rows = [dict(r, dataset=ds) for r in rows for ds in datasets]
    return spark.createDataFrame(rows, schema=ZONES_DDL + ", dataset string")


@pytest.fixture(scope="module")
def raster(spark):
    arr = np.arange(64, dtype=np.float32).reshape(8, 8)
    return raster_to_tables(spark, arr, AFF, dataset="td", nodata=-1.0, tile=4)


@pytest.mark.parametrize("broadcast_zones", [True, False])
@pytest.mark.parametrize("stats", [["count"], ["count", "nodata"]])
def test_beyond_extent_raises_at_action(spark, raster, broadcast_zones, stats):
    tiles, datasets = raster
    zones = _zones_df(
        spark, [G.box(1.0, 4.0, 5.0, 8.0), G.box(20.0, 20.0, 25.0, 25.0)]
    )
    df = zonal_stats_df(
        zones, tiles, datasets, dataset="td", stats=stats, boundless=False,
        broadcast_zones=broadcast_zones,
    )
    with pytest.raises(Exception, match="outside dataset extent"):
        df.collect()


@pytest.mark.parametrize("broadcast_zones", [True, False])
def test_cover_cap_raises_at_action(spark, raster, broadcast_zones):
    tiles, datasets = raster
    # 1..7 × 3..9 spans tile cols 0-1 and tile rows 0-1: 4 tiles
    zones = _zones_df(spark, [G.box(1.0, 3.0, 7.0, 9.0)])
    df = zonal_stats_df(
        zones, tiles, datasets, dataset="td", stats=["count"],
        max_cells_per_zone=2, broadcast_zones=broadcast_zones,
    )
    with pytest.raises(Exception, match=r"covers 4 tiles"):
        df.collect()
    ok = zonal_stats_df(
        zones, tiles, datasets, dataset="td", stats=["count"],
        max_cells_per_zone=4, broadcast_zones=broadcast_zones,
    ).collect()
    assert ok[0]["count"] == 36


def test_boundless_input_one_row_per_tile(spark, raster):
    tiles, datasets = raster
    # drop the stored tile (1, 1): its key must come back with no payload
    tiles = tiles.filter("NOT (tile_col = 1 AND tile_row = 1)")
    meta = collect_dataset_meta(datasets)
    # pixel cols -3..6, rows 1..10: tile cols -1..1 × tile rows 0..2
    zones = _zones_df(spark, [G.box(-3.0, -1.0, 7.0, 9.0)], ["td"])
    geoms = broadcast_zone_geoms(zones)
    cover = broadcast_cover_cells(spark, geoms.value, meta, clip_to_grid=False)
    kernel_in, _ = tile_driven_input(tiles, cover, fill_missing=True)
    rows = kernel_in.collect()
    keys = sorted((r["tile_col"], r["tile_row"]) for r in rows)
    assert keys == [(c, r) for c in (-1, 0, 1) for r in (0, 1, 2)]
    stored = {(r["tile_col"], r["tile_row"]) for r in rows if r["bytes"]}
    assert stored == {(0, 0), (1, 0), (0, 1)}
    assert all(r["fmt"] is None for r in rows if r["bytes"] is None)


def test_point_fast_path_one_row_per_vertex(spark):
    """A zone_id under two datasets: the broadcast regime used to emit
    each (zone_id, vertex_idx) once per dataset."""
    arr = np.arange(100, dtype=np.float32).reshape(10, 10)
    ta, da = raster_to_tables(spark, arr, AFF, dataset="pa", nodata=-1.0, tile=4)
    # same grid shape, 1000 units east: the zone's vertices miss every tile
    far = (1.0, 0.0, 1000.0, 0.0, -1.0, 10.0)
    tb, db = raster_to_tables(spark, arr, far, dataset="pb", nodata=-1.0, tile=4)
    tiles, datasets = ta.unionByName(tb), da.unionByName(db)
    zones = _zones_df(
        spark, [G.wkt_loads("MULTIPOINT (1.5 8.5, 5.2 3.7)")], ["pa", "pb"]
    )

    def run(broadcast_vertices):
        return sorted(
            (r["zone_id"], r["vertex_idx"], r["value"])
            for r in point_query_df(
                zones, tiles, datasets, broadcast_vertices=broadcast_vertices
            ).collect()
        )

    fast, executor = run(True), run(False)
    assert fast == executor
    assert [k[:2] for k in fast] == [(0, 0), (0, 1)]


@pytest.mark.parametrize("broadcast_vertices", [True, False])
@pytest.mark.parametrize("every_zone", [False, True])
def test_point_beyond_extent_raises_at_action(
    spark, raster, broadcast_vertices, every_zone
):
    """With every zone erroring the driver's vertex-key list is empty: the
    left join from the vertex keys must still run the raising stage."""
    tiles, datasets = raster
    far = G.wkt_loads("POINT (20 20)")
    inside = G.wkt_loads("MULTIPOINT (1.5 6.5, 5.2 3.7)")
    zones = _zones_df(spark, [far] if every_zone else [inside, far])
    df = point_query_df(
        zones, tiles, datasets, dataset="td", boundless=False,
        broadcast_vertices=broadcast_vertices,
    )
    with pytest.raises(Exception, match="outside dataset extent"):
        df.collect()
