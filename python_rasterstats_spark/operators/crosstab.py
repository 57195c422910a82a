"""Zonal cross-tabulation — statistics of a VALUE raster per class of a
CLASS raster, within each zone (the classic GIS cross-tab / tabulate-area
operator, generalized to full scalar stats).

Not in the reference (rasterstats handles one raster per call); this is a
multi-raster composition the tile-corpus model makes natural. Both
datasets share the grid, so the plan is operators/zonal.py's tile-driven
one with a paired input: one kernel row per stored (value tile, class
tile) pair, joined on (tile_col, tile_row). The tile's covering zones come
from the driver's broadcast cover dict (broadcast regime) or from cover
cells grouped per tile key (SMJ regime). The kernel makes one pass per
tile, however many zones cover it: it decodes both payloads and builds
their joint validity mask once, rasterizes all covering zones in one
scanline fill (zonal._tile_zones), and walks each zone's view of the tile
under its cover mask. Output is long format: one row per (zone, class
value).

The paired input is the only join between tile tables: each payload
crosses it once. The other shuffle is the (zone, class)-keyed scalar
merge, which combines map-side.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import codecs as C
from .zonal import (
    _tile_pixels,
    _tile_zones,
    _zone_lists,
    broadcast_cover_cells,
    collect_dataset_meta,
    collect_zone_rows,
    group_cover_cells,
    hybrid_big_zone_geoms,
    tile_driven_input,
    tile_prune_filter,
    zone_cell_counts,
    zone_cover_cells,
    zone_windows,
)

_XTAB_PARTIAL = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("class", T.DoubleType()),
        T.StructField("count", T.LongType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField("sumsq", T.DoubleType()),
        T.StructField("min", T.DoubleType()),
        T.StructField("max", T.DoubleType()),
    ]
)


def zonal_crosstab_df(
    zones: DataFrame,
    tiles: DataFrame,
    datasets: DataFrame,
    *,
    value_dataset: str,
    class_dataset: str,
    stats=("count", "min", "max", "mean", "sum", "std"),
    all_touched: bool = False,
    nodata: float | None = None,
    broadcast_zones: bool = True,
    meta: dict | None = None,
    hybrid_wkb_bytes: int | None = 16 << 20,
    quadkey_level: int = 16,
) -> DataFrame:
    """Per-(zone, class) statistics of ``value_dataset`` where
    ``class_dataset`` holds the class. Pixels are valid when covered by the
    zone AND valid (non-nodata, non-NaN) in BOTH rasters. The two datasets
    must share the affine grid and tile size."""
    meta = meta if meta is not None else collect_dataset_meta(datasets)
    for ds in (value_dataset, class_dataset):
        if ds not in meta:
            raise ValueError(f"dataset {ds!r} not in datasets table")
    mv, mc = meta[value_dataset], meta[class_dataset]
    if (mv["affine"], mv["tile_w"], mv["tile_h"]) != (
        mc["affine"], mc["tile_w"], mc["tile_h"]
    ):
        raise ValueError(
            "crosstab requires value and class datasets on the SAME grid "
            f"(affine+tile size); got {value_dataset!r} vs {class_dataset!r}"
        )

    # broadcast regime: once-per-zone geometry broadcast + driver cover
    # dict (operators/zonal.py rationale: never store WKB per covering
    # tile); the SMJ regime (broadcast_zones=False) carries WKB on the
    # cells through the tile-key shuffle — bounded by the same hybrid
    # sizing pass as zonal (large-WKB × many-cell zones broadcast
    # instead, cells carry NULL)
    zdim = zones.withColumn("dataset", F.lit(value_dataset))
    big_keys: frozenset = frozenset()
    geoms_bc = None
    if broadcast_zones:
        geoms, _ = collect_zone_rows(zdim)
        geoms_bc = zones.sparkSession.sparkContext.broadcast(geoms)
        windows = zone_windows(geoms, meta)
        # scan-level pruning; the class raster shares the grid (validated
        # above) so the value-dataset key ranges apply to both scans
        pred = tile_prune_filter(
            {**windows, **{
                (z, class_dataset): w for (z, _), w in windows.items()
            }},
            meta,
            quadkey_col="quadkey" if "quadkey" in tiles.columns else None,
            quadkey_level=quadkey_level,
        )
        if pred is not None:
            tiles = tiles.filter(pred)
    else:
        # SMJ regime: one distributed sizing pass feeds the hybrid-WKB
        # selection AND the collect-free union-bbox scan fence; the
        # class raster shares the grid, so the value-dataset bounds
        # apply to both scans (dataset is re-filtered right below)
        counts = zone_cell_counts(zdim, meta, clip_to_grid=True)
        if hybrid_wkb_bytes is not None:
            # two consumers (hybrid selection + scan fence): persist so
            # the zones table is scanned once, same as zonal_stats_df
            counts = counts.persist()
            geoms_bc, big_keys = hybrid_big_zone_geoms(
                zdim, meta, clip_to_grid=True,
                threshold_bytes=hybrid_wkb_bytes, counts=counts,
            )
        b = counts.agg(
            F.min("tc0").alias("tc0"), F.max("tc1").alias("tc1"),
            F.min("tr0").alias("tr0"), F.max("tr1").alias("tr1"),
        ).first()
        if hybrid_wkb_bytes is not None:
            counts.unpersist()
        if b["tc0"] is not None:
            # dataset-agnostic bbox: both rasters share the grid and
            # both scans must survive the fence
            tiles = tiles.filter(F.expr(
                f"tile_col BETWEEN {b['tc0']} AND {b['tc1']} AND "
                f"tile_row BETWEEN {b['tr0']} AND {b['tr1']}"
            ))
    keys = ["tile_col", "tile_row"]
    tv = tiles.filter(F.col("dataset") == value_dataset).select(
        "dataset", *keys,
        F.col("bytes").alias("vbytes"), F.col("fmt").alias("vfmt"),
    )
    tc = tiles.filter(F.col("dataset") == class_dataset).select(
        *keys, F.col("bytes").alias("cbytes"), F.col("fmt").alias("cfmt")
    )
    pairs = tv.join(tc, keys, "inner")
    if broadcast_zones:
        kernel_in, cover = tile_driven_input(
            pairs, broadcast_cover_cells(
                zones.sparkSession, windows, meta, clip_to_grid=True
            ),
            meta,
        )
    else:
        cover = None
        cells = zone_cover_cells(
            zdim, meta, clip_to_grid=True, with_geometry=True,
            null_wkb_keys=big_keys,
        ).drop("dataset")
        kernel_in = group_cover_cells(cells, keys).join(pairs, keys, "inner")

    vnd = nodata if nodata is not None else mv["nodata"]
    vnd = -999.0 if vnd is None else vnd
    cnd = -999.0 if mc["nodata"] is None else mc["nodata"]

    def tile_planes(vb, vf, cb, cf):
        """Both payloads decoded once per tile, as float64 over the tile's
        nominal extent, and the mask of pixels valid in both rasters."""
        v = _tile_pixels(mv, np.asarray(C.decode_tile(bytes(vb), vf)), vnd)
        c = _tile_pixels(mv, np.asarray(C.decode_tile(bytes(cb), cf)), cnd)
        v = v.astype(np.float64, copy=False)
        c = c.astype(np.float64, copy=False)
        return v, c, (v != vnd) & ~np.isnan(v) & (c != cnd) & ~np.isnan(c)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        covered = _tile_zones(meta, geoms_bc, all_touched=all_touched)
        for pdf in batches:
            rows = {name: [] for name in _XTAB_PARTIAL.fieldNames()}
            for ((ds, tcn, trn), zl), vb, vf, cb, cf in zip(
                _zone_lists(pdf, cover), pdf["vbytes"], pdf["vfmt"],
                pdf["cbytes"], pdf["cfmt"],
            ):
                planes = None
                for zid, (rs, cs), rv in covered(ds, tcn, trn, zl):
                    if planes is None:
                        planes = tile_planes(vb, vf, cb, cf)
                    v, c, ok = planes
                    valid = rv & ok[rs, cs]
                    if not valid.any():
                        continue
                    vals, cls = v[rs, cs][valid], c[rs, cs][valid]
                    order = np.argsort(cls, kind="stable")
                    vals, cls = vals[order], cls[order]
                    uc, starts = np.unique(cls, return_index=True)
                    bounds = np.append(starts, cls.size)
                    for k in range(uc.size):
                        seg = vals[bounds[k] : bounds[k + 1]]
                        rows["zone_id"].append(zid)
                        rows["class"].append(float(uc[k]))
                        rows["count"].append(int(seg.size))
                        rows["sum"].append(float(seg.sum()))
                        rows["sumsq"].append(float(seg @ seg))
                        rows["min"].append(float(seg.min()))
                        rows["max"].append(float(seg.max()))
            if rows["zone_id"]:
                yield pd.DataFrame(rows)

    partials = kernel_in.mapInPandas(gen, _XTAB_PARTIAL)
    agg = partials.groupBy("zone_id", "class").agg(
        F.sum("count").alias("count"),
        F.sum("sum").alias("sum"),
        F.sum("sumsq").alias("sumsq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )
    cnt = F.col("count")
    mean = F.col("sum") / cnt
    var = F.col("sumsq") / cnt - mean * mean
    out_cols = [F.col("zone_id"), F.col("class")]
    for s in stats:
        if s == "count":
            out_cols.append(cnt.alias("count"))
        elif s == "mean":
            out_cols.append(mean.alias("mean"))
        elif s == "std":
            out_cols.append(F.sqrt(F.greatest(var, F.lit(0.0))).alias("std"))
        elif s in ("min", "max", "sum"):
            out_cols.append(F.col(s).alias(s))
        else:
            raise ValueError(f"crosstab stat {s!r} not supported")
    return agg.select(*out_cols)
