"""Zonal cross-tabulation — statistics of a VALUE raster per class of a
CLASS raster, within each zone (the classic GIS cross-tab / tabulate-area
operator, generalized to full scalar stats).

Not in the reference (rasterstats handles one raster per call); this is a
multi-raster composition the tile-corpus model makes natural. Both
datasets share the grid, so the plan is operators/zonal.py's tile-driven
one with a paired input: one kernel row per stored (value tile, class
tile) pair, joined on (tile_col, tile_row). The front half is
zonal.front_half in either regime, with the class dataset as the value
dataset's peer: the scan fence (and, over prefix-partitioned storage,
the qk_prefix directory pruning) keeps the same tiles of both rasters,
and the SMJ regime sizes its zones in one summary job. The tile's
covering zones come from the driver's broadcast cover dict (broadcast
regime) or from cover cells grouped per tile key (SMJ regime), joined to
the pairs by front_half's join. The kernel makes one pass per
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
    collect_dataset_meta,
    front_half,
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

    # the shared front half (zonal.front_half, either regime). The class
    # raster shares the grid (validated above), so its scan is a peer of
    # the value dataset's: the fence keeps the same tiles of both
    fh = front_half(
        zones.withColumn("dataset", F.lit(value_dataset)), tiles, meta,
        broadcast=broadcast_zones, hybrid_wkb_bytes=hybrid_wkb_bytes,
        peers=(class_dataset,),
    )
    keys = ["tile_col", "tile_row"]
    tv = fh.tiles.filter(F.col("dataset") == value_dataset).select(
        "dataset", *keys,
        F.col("bytes").alias("vbytes"), F.col("fmt").alias("vfmt"),
    )
    tc = fh.tiles.filter(F.col("dataset") == class_dataset).select(
        *keys, F.col("bytes").alias("cbytes"), F.col("fmt").alias("cfmt")
    )
    kernel_in, cover = fh.join(tv.join(tc, keys, "inner"))
    geoms_bc = fh.geoms()

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
