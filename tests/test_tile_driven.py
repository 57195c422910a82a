"""The single tile-driven zonal plan.

- Driver-detected errors (beyond-extent with boundless=False, the
  max_cells_per_zone cap) surface when the action runs, not when the
  DataFrame is built, in both regimes.
- The boundless-nodata kernel input (front_half's join) holds each
  stored tile once plus one NULL-payload row per cover key with no
  stored tile; the stored keys come from a key collect fenced to the
  cover, even over an unpruned scan.
- The gather tier, on the same broadcast front half, raises its
  driver-detected errors (beyond-extent, cover cap, unknown dataset) at
  action time too.
- The gather tier reads the tiles by one payload scan and shuffles only
  its per-zone groupBy; a zone with no stored tile keeps its row.
- A broadcast-regime build parses each zone's WKB once on the driver,
  for zonal and for the point query.
- The point query returns one row per (zone_id, vertex_idx) in both
  regimes when a zone_id appears under two datasets, and its
  beyond-extent error (boundless=False) also surfaces at action time.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from python_rasterstats_spark import codecs as C
from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.operators.gather import zonal_gather_df
from python_rasterstats_spark.operators.point import point_query_df
from python_rasterstats_spark.plans.explain import (
    physical_plan, plan_summary, scan_output_rows,
)
from python_rasterstats_spark.operators.zonal import (
    collect_dataset_meta, front_half, zonal_stats_df,
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


@pytest.mark.parametrize("case", ["beyond_extent", "cover_cap", "unknown_dataset"])
def test_gather_errors_raise_at_action(spark, raster, case):
    tiles, datasets = raster
    kw, match = {"dataset": "td"}, None
    if case == "beyond_extent":
        zones = _zones_df(
            spark, [G.box(1.0, 4.0, 5.0, 8.0), G.box(20.0, 20.0, 25.0, 25.0)]
        )
        kw["boundless"], match = False, "outside dataset extent"
    elif case == "cover_cap":
        zones = _zones_df(spark, [G.box(1.0, 3.0, 7.0, 9.0)])  # 4 tiles
        kw["max_cells_per_zone"], match = 2, "covers 4 tiles"
    else:
        zones = _zones_df(spark, [G.box(1.0, 4.0, 5.0, 8.0)], ["nope"])
        kw, match = {}, "zone 0: unknown dataset 'nope'"
    df = zonal_gather_df(
        zones, tiles, datasets, stats=["count"],
        add_stats={"n": lambda m: float(m.count())}, **kw,
    )
    with pytest.raises(Exception, match=match):
        df.collect()
    if case == "cover_cap":
        kw["max_cells_per_zone"] = 4
        ok = zonal_gather_df(zones, tiles, datasets, stats=["count"], **kw)
        assert ok.collect()[0]["count"] == 36


def test_gather_plan_one_tile_scan_one_exchange(corpus):
    """No key-only tile scan and no broadcast join: the one FileScan reads
    the payloads, and the one Exchange is the per-zone groupBy."""
    tiles, zones, datasets = corpus
    df = zonal_gather_df(
        zones.filter(F.col("collection") == "polygons"), tiles, datasets,
        dataset="slope", stats=["count", "mean"],
        add_stats={"ss": lambda m: float((m.compressed() ** 2).sum())},
    )
    s = plan_summary(df)
    plan = physical_plan(df)
    assert (s["broadcast_hash_joins"], s["exchanges"]) == (0, 1), plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1 and "bytes" in scans[0], plan
    assert "Exchange hashpartitioning(zone_id" in plan


def test_gather_zones_without_stored_tiles_keep_their_row(spark, raster):
    """A zone wholly off the grid and a zone inside a tile that is not
    stored each still get one row (reference main.py:230-234): count 0,
    their add_stats value and a fill-valued mini_raster; a zone on a
    stored tile next to them is unaffected."""
    tiles, datasets = raster
    tiles = tiles.filter("NOT (tile_col = 1 AND tile_row = 1)")
    mosaic = np.arange(64, dtype=np.float32).reshape(8, 8)
    mosaic[4:8, 4:8] = -1.0  # the dropped tile reads as nodata
    geoms = [
        G.box(20.0, 20.0, 23.0, 23.0),  # off the grid
        G.box(4.5, 2.5, 7.5, 5.5),      # inside the dropped tile (1, 1)
        G.box(0.5, 6.5, 3.5, 9.5),      # inside the stored tile (0, 0)
    ]

    def n(m):
        return float(m.count())

    got = {r["zone_id"]: r for r in zonal_gather_df(
        _zones_df(spark, geoms), tiles, datasets, dataset="td",
        stats=["count", "mean"], add_stats={"n": n}, raster_out=True,
    ).collect()}
    assert sorted(got) == [0, 1, 2]
    assert [got[z]["count"] for z in (0, 1)] == [0, 0]
    for zid, g in enumerate(geoms):
        want = K.zonal_stats_one(g, mosaic, AFF, nodata=-1.0,
                                 stats=["count", "mean"])
        block, rv, win, fill = K.prepare_zone(g, mosaic, AFF, nodata=-1.0)
        masked = np.ma.MaskedArray(block, mask=(block == fill) | ~rv)
        r = got[zid]
        assert (r["count"], r["mean"], r["n"]) == (
            want["count"], want["mean"], n(masked))
        mr = r["mini_raster"]
        assert bytes(mr["data"]) == C.encode_tile(
            np.ma.filled(masked, fill).astype(np.float32), "npy")
        assert bytes(mr["mask"]) == C.encode_tile(
            np.ma.getmaskarray(masked), "npy")
        assert tuple(mr["affine"]) == K.window_affine(win, AFF)


@pytest.mark.parametrize("stats", [["count", "mean"], ["count", "median"]])
def test_broadcast_build_parses_each_wkb_once(corpus, monkeypatch, stats):
    """The scan prune predicate, the cover dict and the auto-holistic
    size estimate all read the zone windows computed once per build."""
    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    n = polys.count()
    calls = []
    real = G.wkb_loads
    monkeypatch.setattr(G, "wkb_loads", lambda b: calls.append(1) or real(b))
    zonal_stats_df(polys, tiles, datasets, dataset="slope", stats=stats)
    assert len(calls) == n == 2


def test_point_broadcast_build_parses_each_wkb_once(corpus, monkeypatch):
    """The broadcast point query parses each zone's WKB once, into its
    vertex windows, whose tile keys also fence the scan; its values equal
    the unfenced and the SMJ regime's."""
    tiles, zones, datasets = corpus
    pts = zones.filter(F.col("collection") == "query_points")
    n = pts.count()

    def run(**kw):
        return sorted(map(tuple, point_query_df(
            pts, tiles, datasets, dataset="slope", **kw
        ).collect()))

    calls = []
    real = G.wkb_loads
    monkeypatch.setattr(G, "wkb_loads", lambda b: calls.append(1) or real(b))
    got = run()
    assert len(calls) == n > 0
    monkeypatch.undo()
    assert got == run(prune_tiles=False) == run(broadcast_vertices=False)


def test_boundless_input_one_row_per_tile(spark, raster, tmp_path, monkeypatch):
    tiles, datasets = raster
    # drop the stored tile (1, 1): its key must come back with no payload
    tiles = tiles.filter("NOT (tile_col = 1 AND tile_row = 1)")
    meta = collect_dataset_meta(datasets)
    # pixel cols -3..6, rows 1..10: tile cols -1..1 × tile rows 0..2
    zones = _zones_df(spark, [G.box(-3.0, -1.0, 7.0, 9.0)], ["td"])
    fh = front_half(zones, tiles, meta, broadcast=True, fill_missing=True)
    kernel_in, _ = fh.join(fh.tiles)
    rows = kernel_in.collect()
    keys = sorted((r["tile_col"], r["tile_row"]) for r in rows)
    assert keys == [(c, r) for c in (-1, 0, 1) for r in (0, 1, 2)]
    stored = {(r["tile_col"], r["tile_row"]) for r in rows if r["bytes"]}
    assert stored == {(0, 0), (1, 0), (0, 1)}
    assert all(r["fmt"] is None for r in rows if r["bytes"] is None)

    # the stored keys come from a key collect fenced to the cover even
    # over an unpruned scan: over a table of one tile per row group, it
    # outputs no more rows than the cover's in-grid keys (0, 0), (0, 1)
    path = str(tmp_path / "tiles.parquet")
    pq.write_table(pa.Table.from_pandas(tiles.toPandas()), path,
                   row_group_size=1)
    scan = spark.read.parquet(path)
    # pixel cols -3..2, rows 1..4: tile cols -1..0 × tile rows 0..1
    zones = _zones_df(spark, [G.box(-3.0, 5.0, 3.0, 9.0)], ["td"])
    fh = front_half(zones, scan, meta, broadcast=True,
                    fill_missing=True, prune_tiles=False)
    # every Arrow collect of the join (front_half collected the zones)
    key_scans, real = [], type(scan).toArrow
    monkeypatch.setattr(
        type(scan), "toArrow", lambda df: key_scans.append(df) or real(df)
    )
    kernel_in, _ = fh.join(fh.tiles)
    assert [df.columns for df in key_scans] == [["dataset", "tile_col", "tile_row"]]
    assert scan_output_rows(key_scans[0], column="tile_col") <= 2
    missing = {(r["tile_col"], r["tile_row"])
               for r in kernel_in.collect() if r["bytes"] is None}
    assert missing == {(-1, 0), (-1, 1)}


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
