"""Gather-tier zonal evaluation — per-zone mosaic for non-decomposable ops.

``add_stats`` user functions (reference main.py:304-316), ``raster_out``
mini-rasters (main.py:318-321) and non-elementwise ``zone_func`` transforms
cannot be split into mergeable partials: they need the whole masked zone
array. This operator runs on the broadcast regime's front half
(operators/zonal.front_half: pruned tile scan, driver cover dict of the
stored grid's keys), then

    tile kernel (mapInPandas, one pass per tile): decode the payload once,
    select the band, cut each covering zone's part of its bbox window
                                   │ (zone_id, row_off, col_off, block)
                                   │ ∪ one NULL-block anchor per zone
    groupBy(zone_id).applyInPandas: paste the blocks into the zone's
    pre-filled canvas and run the exact single-zone kernel there.

The tiles are read by one scan and never shuffled; the only Exchange is
the groupBy's. Every zone of a known dataset with a non-empty tile window
gets its row, also when all its tiles are off the grid or absent: its
anchor row (built on the driver) carries no pixels, and the canvas is
pre-filled with the fill value (count 0, reference main.py:230-234).
Memory per task is bounded by the zone's bbox window (``max_zone_pixels``
guard) — this is the documented non-scalable tier; the partial/merge
protocol in operators/zonal.py is the scale path (SURVEY.md §2.4 A18).
"""

from __future__ import annotations

import inspect
import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import codecs as C
from .. import kernel as K
from .zonal import (
    _TILE_COLS, _effective_geom, _zone_tile_window, collect_dataset_meta,
    front_half, local_frame,
)

_BLOCKS_SCHEMA = "zone_id long, row_off int, col_off int, block binary"

_MINI_RASTER_TYPE = T.StructType(
    [
        T.StructField("data", T.BinaryType()),
        T.StructField("mask", T.BinaryType()),
        T.StructField("affine", T.ArrayType(T.DoubleType())),
        T.StructField("nodata", T.DoubleType()),
    ]
)


def _result_schema(stats, categorical, add_stats, raster_out) -> T.StructType:
    fields = [T.StructField("zone_id", T.LongType())]
    for s in stats:
        if s in ("count", "unique"):
            fields.append(T.StructField(s, T.LongType()))
        else:
            fields.append(T.StructField(s, T.DoubleType()))
    if categorical:
        fields.append(
            T.StructField("value_counts", T.MapType(T.DoubleType(), T.LongType()))
        )
    for name in add_stats or {}:
        fields.append(T.StructField(name, T.DoubleType()))
    if raster_out:
        fields.append(T.StructField("mini_raster", _MINI_RASTER_TYPE))
    return T.StructType(fields)


def zonal_gather_df(
    zones: DataFrame,
    tiles: DataFrame,
    datasets: DataFrame,
    *,
    dataset: str | None = None,
    stats=None,
    all_touched: bool = False,
    categorical: bool = False,
    nodata: float | None = None,
    boundless: bool = True,
    zone_func=None,
    add_stats: dict | None = None,
    raster_out: bool = False,
    band: int = 1,
    max_zone_pixels: int = 64_000_000,
    max_cells_per_zone: int = 4_000_000,
) -> DataFrame:
    """Zonal stats with per-zone gather semantics (the reference's exact
    execution model, distributed across zones instead of pixels)."""
    stats, _ = K.check_stats(stats, categorical)
    meta = collect_dataset_meta(datasets)
    if dataset is not None:
        if dataset not in meta:
            raise ValueError(f"dataset {dataset!r} not in datasets table")
        zones = zones.withColumn("dataset", F.lit(dataset))
    if "properties_json" not in zones.columns:
        zones = zones.withColumn("properties_json", F.lit(None).cast("string"))

    # the zone dim is read once, by the front half: geometry and
    # properties ship once per zone per executor in broadcast dicts,
    # never per covering tile
    fh = front_half(
        zones, tiles, meta, broadcast=True,
        max_cells_per_zone=max_cells_per_zone, raise_beyond_extent=not boundless,
        extra_cols=("properties_json",),
    )
    kernel_in, cover = fh.join(fh.tiles)
    geoms_bc = fh.geoms()
    spark = zones.sparkSession
    windows = fh.windows()
    zone_info = {
        zid: (ds, props, windows[(zid, ds)]) for zid, ds, props in fh.zone_rows
    }
    zbc = spark.sparkContext.broadcast(zone_info)
    # the cover holds stored-grid keys only, so a zone whose tiles are all
    # off the grid or absent gets its row from a NULL-block anchor: every
    # zone of a known dataset with a non-empty tile window
    anchors = local_frame(spark, pd.DataFrame(
        [(zid, 0, 0, None) for zid, (ds, _, win) in zone_info.items()
         if ds in meta and _zone_tile_window(win, meta[ds], False)[4] > 0],
        columns=["zone_id", "row_off", "col_off", "block"],
    ), _BLOCKS_SCHEMA)

    def tile_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Per tile and covering zone: the tile's part of the zone's bbox
        window in native dtype and its offset in that window."""
        cov, zv = cover.value, zbc.value
        for pdf in batches:
            out = []
            for ds, tc, tr, payload, fmt in zip(*(pdf[c] for c in _TILE_COLS)):
                zids = cov.get((ds, tc, tr))
                if not zids:
                    continue  # scan false positive
                tile = np.asarray(C.decode_tile(bytes(payload), fmt))
                if tile.ndim == 3:  # band select (S6, io.py:279)
                    tile = tile[band - 1]
                ty, tx = tr * meta[ds]["tile_h"], tc * meta[ds]["tile_w"]
                for zid in zids:
                    (r0, r1), (c0, c1) = zv[zid][2]
                    rr0, cc0 = max(r0, ty), max(c0, tx)
                    block = C.encode_tile(
                        tile[rr0 - ty:r1 - ty, cc0 - tx:c1 - tx], "npy"
                    )
                    out.append((zid, rr0 - r0, cc0 - c0, block))
            if out:
                yield pd.DataFrame(
                    out, columns=["zone_id", "row_off", "col_off", "block"]
                )

    blocks = kernel_in.select(*_TILE_COLS).mapInPandas(
        tile_blocks, _BLOCKS_SCHEMA
    ).unionByName(anchors)

    schema = _result_schema(stats, categorical, add_stats, raster_out)
    add_stats = add_stats or {}

    def per_zone(pdf: pd.DataFrame) -> pd.DataFrame:
        zid = int(pdf["zone_id"].iloc[0])
        ds, props_json, win = zbc.value[zid]
        wkb = geoms_bc.value[(zid, ds)]
        m = meta[ds]
        aff = m["affine"]
        geom_eff = _effective_geom(wkb, aff)
        (r0, r1), (c0, c1) = win
        if (r1 - r0) * (c1 - c0) > max_zone_pixels:
            raise ValueError(
                f"zone {zid}: window {(r1 - r0)}×{(c1 - c0)} exceeds "
                f"max_zone_pixels={max_zone_pixels} — use the partial/merge "
                "operator (zonal_stats_df) for zones this large"
            )
        nd = nodata if nodata is not None else m["nodata"]
        fill = -999.0 if nd is None else nd
        # mosaic in the raster's NATIVE dtype: the reference hands zone_func/
        # add_stats the raw-band masked array (main.py:208-228), so e.g.
        # float32 rounding in user transforms must match bit-for-bit.
        # Native only when the fill round-trips (kernel.fill_dtype) — an
        # unrepresentable fill (uint8 raster, nodata None → -999) would
        # wrap into the data range and corrupt boundless/missing pixels.
        cdtype = np.dtype(m["dtype"]) if m.get("dtype") else np.float64
        canvas = np.full((r1 - r0, c1 - c0), fill, dtype=K.fill_dtype(cdtype, fill))
        for ro, co, blk in zip(pdf["row_off"], pdf["col_off"], pdf["block"]):
            if blk is not None:
                b = C.decode_tile(bytes(blk), "npy")
                canvas[ro:ro + b.shape[0], co:co + b.shape[1]] = b

        # reference per-feature body (main.py:194-321) on the mosaic
        pgeom = K.geom_to_pixel(geom_eff, aff)
        rv = K.rasterize_pixgeom(pgeom, win, all_touched=all_touched)
        isnan = np.isnan(canvas)
        isnodata = (canvas == fill) | isnan
        masked = np.ma.MaskedArray(canvas, mask=(isnodata | ~rv))
        if zone_func is not None:
            if not callable(zone_func):
                raise TypeError(
                    "zone_func must be a callable function "
                    "which accepts a single `zone_array` arg."
                )
            ret = zone_func(masked)
            if ret is not None:
                masked = ret
        data = np.ma.filled(masked.astype(np.float64), np.nan)
        cover = ~np.ma.getmaskarray(masked)
        part = K.partial_stats(data, cover, None, True)
        part["nodata_count"] = int(((canvas == fill) & rv).sum())
        part["nan_count"] = int((isnan & rv).sum())
        out = K.finalize_stats(part, stats, categorical=False)

        row: dict = {"zone_id": [zid]}
        for s in stats:
            v = out.get(s)
            row[s] = [None if v is None else (int(v) if s in ("count", "unique") else float(v))]
        if categorical:
            vc = dict(zip(part["vc_vals"].tolist(), part["vc_cnts"].tolist()))
            row["value_counts"] = [
                {float(k): int(v) for k, v in vc.items()} if vc else None
            ]
        if add_stats:
            props = json.loads(props_json) if props_json else {}
            for name, fn in add_stats.items():
                n_params = len(inspect.signature(fn).parameters)
                if n_params == 3:  # main.py:306-316 arity dispatch
                    v = fn(masked, props, rv)
                elif n_params == 2:
                    v = fn(masked, props)
                else:
                    v = fn(masked)
                row[name] = [None if v is None else float(v)]
        if raster_out:
            row["mini_raster"] = [
                {
                    "data": C.encode_tile(
                        np.ma.filled(masked, fill).astype(np.float32), "npy"
                    ),
                    "mask": C.encode_tile(np.ma.getmaskarray(masked), "npy"),
                    "affine": list(K.window_affine(win, aff)),
                    "nodata": float(fill),
                }
            ]
        return pd.DataFrame(row)

    return blocks.groupBy("zone_id").applyInPandas(per_zone, schema)
