"""Distributed point query — raster values at geometry vertices.

Replaces the reference's per-vertex loop (point.py:169-199) with the same
tile-driven plan as operators/zonal.py: index each vertex's pixel window
by tile key, then make one pass over the tiles. A window holds the ≤4
pixels the interpolation reads; a 2×2 bilinear window can straddle up to
4 tiles (the seam case, J3).

    zones ──▶ vertex windows per tile key: (zone_id, vertex_idx,
              [(row, col, pos), ...], ux, uy)
              broadcast regime: derived on the driver, shipped as a dict
              {(dataset, tile_col, tile_row): [window, ...]}; the tile
              scan keeps only its keys (broadcast left-semi join)
              SMJ regime: exploded on the executors and grouped into a
              ``ws`` array per tile key, inner-joined to the tiles
                                   │
    tiles ──pruned scan────────────┤
                                   ▼
            ONE mapInPandas gather: per tile, decode the payload once and
            emit (vertex, pos, value|null) for each window pixel on it
                                   ▼
            groupBy(zone_id, vertex_idx) JVM agg: bilinear w/ masked-
            nearest fallback (point.py:29-65) or nearest (point.py:179-189)
                                   ▼
            vertex keys ⟕ values: a vertex with no stored tile → NULL (J4)

Returns (zone_id, vertex_idx, value). The API layer reassembles the
reference's scalar-or-list output shape (point.py:198-199). A window
beyond the extent with boundless=False raises the reference's ValueError
when the action runs, in both regimes.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import codecs as C
from .. import geom as G
from .. import kernel as K
from .zonal import (
    _BEYOND_EXTENT, _TILE_COLS, collect_dataset_meta, smj_bounds_filter,
    spread, tile_driven_input, tile_prune_filter, zone_cell_counts,
)

_WINDOWS_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("vertex_idx", T.IntegerType()),
        T.StructField("dataset", T.StringType()),
        T.StructField("tile_col", T.IntegerType()),
        T.StructField("tile_row", T.IntegerType()),
        T.StructField("pix", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("ux", T.DoubleType()),
        T.StructField("uy", T.DoubleType()),
    ]
)

_GATHER_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("vertex_idx", T.IntegerType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ux", T.DoubleType()),
        T.StructField("uy", T.DoubleType()),
    ]
)


def point_query_df(
    zones: DataFrame,
    tiles: DataFrame,
    datasets: DataFrame,
    *,
    dataset: str | None = None,
    interpolate: str = "bilinear",
    nodata: float | None = None,
    boundless: bool = True,
    band: int = 1,
    broadcast_vertices: bool = True,
    prune_tiles: bool = True,
    quadkey_level: int = 16,
) -> DataFrame:
    """Raster values at each vertex of each zone geometry (J3 kNN join:
    k=1 nearest / k=4 bilinear grid neighbors).

    ``broadcast_vertices=True`` (right whenever the vertex set fits
    driver and executor memory) collects the zones, derives every
    vertex's pixel window on the driver and broadcasts them as a dict
    keyed by tile; the tile scan is never shuffled and the per-vertex
    values join back by broadcast. ``broadcast_vertices=False`` (huge
    vertex sets) explodes the windows on the executors, groups them per
    tile key and sort-merge joins them to the tiles — the same regime
    switch as zonal_stats_df's ``broadcast_zones``. Both regimes feed the
    same gather kernel, one row per tile. ``prune_tiles`` fences the tile
    scan to the vertices' working set (widened by one tile: a bilinear
    window reaches 1 px past the geometry's bbox) and changes nothing
    else."""
    if interpolate not in ("nearest", "bilinear"):
        raise ValueError("interpolate must be nearest or bilinear")
    meta = collect_dataset_meta(datasets)
    if dataset is not None:
        if dataset not in meta:
            raise ValueError(f"dataset {dataset!r} not in datasets table")
        zones = zones.withColumn("dataset", F.lit(dataset))
    bilin = interpolate == "bilinear"
    spark = zones.sparkSession
    zcols = zones.select("zone_id", "dataset", "geometry_wkb")
    keys = list(_TILE_COLS[:3])
    if broadcast_vertices:
        gd = {
            (r["zone_id"], r["dataset"]): bytes(r["geometry_wkb"])
            for r in zcols.collect()
        }
        if prune_tiles:
            pred = tile_prune_filter(
                gd, meta, pad_tiles=1,
                quadkey_col="quadkey" if "quadkey" in tiles.columns else None,
                quadkey_level=quadkey_level,
                prefix_col="qk_prefix" if "qk_prefix" in tiles.columns else None,
            )
            if pred is not None:
                tiles = tiles.filter(pred)
        wins, vkey_rows = _driver_windows(
            spark, gd, meta, bilin=bilin, boundless=boundless
        )
        scan = tiles.select(*_TILE_COLS)
        if not isinstance(wins, str):
            # exact-key semi join (broadcast, JVM-side): vertex windows
            # touch few tiles, so without it every pruned-scan tile's
            # payload would cross Arrow just to be discarded by the dict
            # lookup
            scan = scan.join(
                F.broadcast(spark.createDataFrame(
                    list(wins.value),
                    "dataset string, tile_col int, tile_row int",
                )),
                keys, "left_semi",
            )
        kernel_in, wins = tile_driven_input(scan, wins)
        vkeys = spark.createDataFrame(vkey_rows, "zone_id long, vertex_idx int")
    else:
        def explode_vertices(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = {name: [] for name in _WINDOWS_SCHEMA.fieldNames()}
                for zid, ds, wkb in zip(
                    pdf["zone_id"], pdf["dataset"], pdf["geometry_wkb"]
                ):
                    for vi, ux, uy, by_tile in _vertex_windows(
                        zid, ds, wkb, meta, bilin=bilin, boundless=boundless
                    ):
                        for (tc, tr), pix in by_tile.items():
                            rows["zone_id"].append(zid)
                            rows["vertex_idx"].append(vi)
                            rows["dataset"].append(ds)
                            rows["tile_col"].append(tc)
                            rows["tile_row"].append(tr)
                            rows["pix"].append(pix)
                            rows["ux"].append(ux)
                            rows["uy"].append(uy)
                if rows["zone_id"]:
                    yield pd.DataFrame(rows)

        # two consumers (grouped windows, vertex keys): persist so the
        # explode runs once
        windows = spread(zcols).mapInPandas(
            explode_vertices, _WINDOWS_SCHEMA
        ).persist()
        if prune_tiles:
            # collect-free fence, the same Morton-bucketed rect aggregation
            # as zonal's SMJ regime, over each zone's tile window widened
            # by one tile. The sizing pass does not run the boundless=False
            # check, so that error still surfaces when the action runs.
            counts = zone_cell_counts(zcols, meta)
            pred = smj_bounds_filter(
                counts.select(
                    "dataset",
                    *((F.col(c) + d).alias(c) for c, d in (
                        ("tc0", -1), ("tc1", 1), ("tr0", -1), ("tr1", 1)
                    )),
                ),
                meta,
            )
            if pred is not None:
                tiles = tiles.filter(pred)
        wins = None
        kernel_in = windows.groupBy(*keys).agg(
            F.collect_list(
                F.struct("zone_id", "vertex_idx", "pix", "ux", "uy")
            ).alias("ws")
        ).join(tiles.select(*_TILE_COLS), keys, "inner")
        vkeys = windows.select("zone_id", "vertex_idx").distinct()
    gathered = kernel_in.mapInPandas(
        _gather(meta, wins, nodata=nodata, band=band), _GATHER_SCHEMA
    )
    # INNER joins to the tiles (a left join can't broadcast its left side
    # and would shuffle the tile table); vertices whose tiles are all
    # missing are reinstated as NULL after interpolation via vkeys
    return _interp_join(
        gathered, vkeys, bilin,
        F.broadcast if broadcast_vertices else (lambda d: d),
    )


def _gather(meta: dict, wins, *, nodata, band: int):
    """The gather kernel of both regimes. Input: one row per tile
    ``(dataset, tile_col, tile_row, bytes, fmt)``; the tile's vertex
    windows come from the broadcast dict ``wins`` or, with ``wins=None``,
    from the row's ``ws`` structs. Each payload is decoded once; output is
    one (zone_id, vertex_idx, pos, value|null, ux, uy) row per window
    pixel, nodata masked (io.py:218-219 with masked=True)."""

    def gather_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {name: [] for name in _GATHER_SCHEMA.fieldNames()}
            tkeys = list(zip(pdf["dataset"], pdf["tile_col"], pdf["tile_row"]))
            if wins is None:
                wlists = (
                    [(w["zone_id"], w["vertex_idx"], w["pix"], w["ux"], w["uy"])
                     for w in ws]
                    for ws in pdf["ws"]
                )
            else:
                wm = wins.value
                wlists = (wm.get(k) for k in tkeys)
            for (ds, tc, tr), payload, fmt, wl in zip(
                tkeys, pdf["bytes"], pdf["fmt"], wlists
            ):
                if not wl:
                    continue
                m = meta[ds]
                nd = nodata if nodata is not None else m["nodata"]
                nd = -999.0 if nd is None else nd
                block = np.asarray(C.decode_tile(bytes(payload), fmt))
                if block.ndim == 3:  # band select (S6, io.py:279)
                    block = block[band - 1]
                block = block.astype(np.float64)
                for zid, vi, pix, ux, uy in wl:
                    for pr, pc, pos in pix:
                        val = None
                        rr = pr - tr * m["tile_h"]
                        cc = pc - tc * m["tile_w"]
                        if 0 <= rr < block.shape[0] and 0 <= cc < block.shape[1]:
                            v = float(block[rr, cc])
                            if v != nd:
                                val = v
                        rows["zone_id"].append(zid)
                        rows["vertex_idx"].append(vi)
                        rows["pos"].append(pos)
                        rows["value"].append(val)
                        rows["ux"].append(ux)
                        rows["uy"].append(uy)
            if rows["zone_id"]:
                yield pd.DataFrame(rows)

    return gather_tiles


def _vertex_windows(zid, ds, wkb, meta: dict, *, bilin: bool, boundless: bool):
    """Per-vertex pixel windows of one zone, grouped by covering tile key:
    yields ``(vertex_idx, ux, uy, {(tc, tr): [(pr, pc, pos), ...]})`` —
    the one derivation behind both the SMJ regime's explode and the
    driver-side window dict. Raises the reference's ValueError for an
    unknown dataset or (boundless=False) a window beyond the extent."""
    m = meta.get(ds)
    if m is None:
        raise ValueError(f"zone {zid}: unknown dataset {ds!r}")
    aff = m["affine"]
    for vi, (x, y) in enumerate(G.geom_vertices(G.wkb_loads(bytes(wkb)))):
        if bilin:
            win, (ux, uy) = K.point_window_unitxy(x, y, aff)
        else:
            r, c = K.rowcol(x, y, aff)
            win, (ux, uy) = ((r, r + 1), (c, c + 1)), (0.0, 0.0)
        if not boundless and K.beyond_extent(win, (m["height"], m["width"])):
            raise ValueError(_BEYOND_EXTENT)
        (r0, r1), (c0, c1) = win
        by_tile: dict = {}
        for pos, (pr, pc) in enumerate(
            (pr, pc) for pr in range(r0, r1) for pc in range(c0, c1)
        ):
            key = (math.floor(pc / m["tile_w"]), math.floor(pr / m["tile_h"]))
            by_tile.setdefault(key, []).append((pr, pc, pos))
        yield vi, ux, uy, by_tile


def _driver_windows(
    spark, gd: dict, meta: dict, *, bilin: bool, boundless: bool
):
    """Driver-side twin of the SMJ regime's explode_vertices stage.
    Returns ``(windows, vertex keys)``: windows is a Broadcast of
    ``{(ds, tc, tr): [(zid, vi, [(pr, pc, pos)...], ux, uy)...]}``, and
    the vertex keys are DISTINCT, as the SMJ regime's ``distinct()`` makes
    them, so a zone_id under several datasets yields one output row per
    vertex either way. When a zone raises (unknown dataset, beyond-extent
    with boundless=False), windows is the first error message instead,
    as broadcast_cover_cells returns it; tile_driven_input turns it into
    a stage that raises at action time."""
    wmap: dict = {}
    vkeys: dict = {}  # insertion-ordered set
    for (zid, ds), wkb in gd.items():
        try:
            for vi, ux, uy, by_tile in _vertex_windows(
                zid, ds, wkb, meta, bilin=bilin, boundless=boundless
            ):
                for (tc, tr), pix in by_tile.items():
                    wmap.setdefault((ds, tc, tr), []).append(
                        (zid, vi, pix, ux, uy)
                    )
                vkeys[(zid, vi)] = None
        except ValueError as e:
            return str(e), list(vkeys)
    return spark.sparkContext.broadcast(wmap), list(vkeys)


def _interp_join(gathered: DataFrame, vkeys: DataFrame, bilin: bool, _bc):
    # interpolation entirely in JVM expressions (no per-vertex pandas
    # groups): gather the ≤4 pixels into a pos→value map, then apply the
    # bilinear formula / masked-nearest fallback (point.py:29-65) as CASE
    # logic. pos layout: 0=UL(A) 1=UR(B) 2=LL(C) 3=LR(D).
    agg = gathered.groupBy("zone_id", "vertex_idx").agg(
        F.first("ux").alias("ux"),
        F.first("uy").alias("uy"),
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("pos"), F.struct(F.col("value").alias("v")))
            )
        ).alias("vals"),
    )
    if not bilin:
        value = F.col("vals")[0]["v"]
    else:
        va = F.col("vals")[0]["v"]
        vb = F.col("vals")[1]["v"]
        vc = F.col("vals")[2]["v"]
        vd = F.col("vals")[3]["v"]
        ux, uy = F.col("ux"), F.col("uy")
        all_valid = (
            va.isNotNull() & vb.isNotNull() & vc.isNotNull() & vd.isNotNull()
        )
        bilinear = (
            vc * (1 - ux) * (1 - uy)
            + vd * ux * (1 - uy)
            + va * (1 - ux) * uy
            + vb * ux * uy
        )
        # nearest fallback: window index (round(1-uy), round(ux)); on the
        # unit square round-half-even of 0.5 is 0 (matching python round)
        top = (1 - uy) <= 0.5
        left_ = ux <= 0.5
        nearest = (
            F.when(top & left_, va)
            .when(top & ~left_, vb)
            .when(~top & left_, vc)
            .otherwise(vd)
        )
        value = F.when(all_valid, bilinear).otherwise(nearest)
    interped = agg.select("zone_id", "vertex_idx", value.alias("value"))
    # vertices with no tile at all (beyond extent / absent tiles) → NULL,
    # preserving one output row per vertex (J4 boundless semantics).
    # interped is ≤1 row per vertex — same cardinality class as the
    # broadcastable vertex side, so broadcast it (when that side is
    # broadcastable at all) and keep the plan SMJ-free
    return vkeys.join(_bc(interped), ["zone_id", "vertex_idx"], "left")
