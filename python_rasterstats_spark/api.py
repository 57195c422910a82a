"""rasterstats-compatible API surface over the Spark engine.

Drop-in analogs of the reference's public functions (main.py:34-54,
point.py:90-98, plus deprecated aliases main.py:25-31, 159-179): same
signatures, same output dict conventions, same warnings — executed as
distributed Spark plans instead of a per-feature Python loop.

``raster`` accepts:
- a 2D numpy array + ``affine`` (reference io.py:268-274 ndarray path),
- a :class:`TileRaster` handle pointing at a corpus (tiles/datasets tables),
- a file path IF the optional ``rasterio`` package is installed.

NOTE — parity surface, not the scale API: these generators ``collect()``
per-zone results to reproduce the reference's list-of-dicts contract
exactly. Pipelines that keep results distributed should call the
DataFrame operators directly (operators.zonal.zonal_stats_df,
operators.point.point_query_df), which stay lazy end-to-end.
"""

from __future__ import annotations

import json
import math
import warnings

import numpy as np

from . import geom as G
from . import kernel as K
from .kernel import DEFAULT_STATS, VALID_STATS, check_stats, get_percentile  # noqa: F401
from .session import get_spark


class NodataWarning(UserWarning):
    """Reference io.py:224-231 analog."""


class TileRaster:
    """Handle binding (tiles, datasets, dataset-name) corpus tables."""

    def __init__(self, tiles, datasets, dataset: str):
        self.tiles = tiles
        self.datasets = datasets
        self.dataset = dataset


def _affine_tuple(affine):
    if affine is None:
        return None
    vals = tuple(float(v) for v in tuple(affine)[:6])
    if len(vals) != 6:
        raise ValueError("affine must have 6 coefficients (a, b, c, d, e, f)")
    return vals


def _resolve_raster(spark, raster, affine, nodata, band, tile=256):
    import os

    from .sources.tables import raster_to_tables

    if isinstance(raster, TileRaster):
        return raster.tiles, raster.datasets, raster.dataset
    if isinstance(raster, (str, os.PathLike)):
        # raster paths: rasterio/GDAL when installed (any format);
        # otherwise the engine's own GeoTIFF reader (tiffcodec —
        # TIFF 6.0 + GeoTIFF from scratch, reference io.py:276-285)
        try:
            import rasterio
        except ImportError:
            rasterio = None
        if rasterio is not None:
            with rasterio.open(raster) as src:
                arr = src.read(band)
                src_nodata = src.nodata
                aff = tuple(src.transform)[:6]
        else:
            if not os.path.exists(raster):
                # reference parity: a missing raster path is an OSError
                # (rasterio raises RasterioIOError ⊂ OSError)
                raise OSError(f"{raster}: No such file or directory")
            from .tiffcodec import TiffError, read_geotiff

            try:
                arr, aff, src_nodata = read_geotiff(raster)
            except TiffError as exc:
                raise ValueError(
                    "reading this raster format requires the optional "
                    "'rasterio' package, which is not installed; the "
                    "built-in reader covers GeoTIFF paths — otherwise "
                    "pass a numpy array + affine or a TileRaster corpus "
                    f"handle instead ({exc})"
                ) from exc
            nbands = arr.shape[0] if arr.ndim == 3 else 1
            if band > nbands or band < 1:
                # mirror rasterio's src.read(band) failure instead of
                # silently returning band 1's data
                raise ValueError(
                    f"band {band} out of range for {raster} "
                    f"(band_count={nbands})"
                )
            if arr.ndim == 3:
                arr = arr[band - 1]
            if aff is None:
                if affine is None:
                    raise ValueError(
                        f"{raster} carries no georeferencing (no GeoTIFF "
                        "keys); pass affine= explicitly"
                    )
                aff = _affine_tuple(affine)
        eff_nodata = nodata if nodata is not None else src_nodata
        if eff_nodata is None:
            warnings.warn(
                "Setting nodata to -999; specify nodata explicitly",
                NodataWarning,
            )
        tiles, datasets = raster_to_tables(
            spark, arr, aff, nodata=eff_nodata, tile=tile, dataset="file"
        )
        return tiles, datasets, "file"
    if isinstance(raster, np.ndarray):
        if affine is None:
            raise ValueError("Specify affine transform for numpy arrays")
        arr = raster
        if arr.ndim == 3:
            arr = arr[band - 1]
        elif arr.ndim != 2:
            raise ValueError("Must be a 2D or 3D array")
        if nodata is None:
            warnings.warn(
                "Setting nodata to -999; specify nodata explicitly", NodataWarning
            )
        tiles, datasets = raster_to_tables(
            spark, arr, _affine_tuple(affine), nodata=nodata, tile=tile
        )
        return tiles, datasets, "mem"
    raise ValueError(
        "raster must be a numpy array (+affine) or a TileRaster corpus handle; "
        "GDAL file paths are not supported by this engine"
    )


def _features_to_zone_rows(spark, vectors, layer):
    import pandas as pd

    from .operators.zonal import local_frame

    feats = list(G.read_features(vectors, layer))
    zones = local_frame(
        spark,
        pd.DataFrame({
            "zone_id": range(len(feats)),
            "collection": "user",
            "geometry_wkb": [G.wkb_dumps(f["geometry"]) for f in feats],
            "geom_type": [f["geometry"]["type"] for f in feats],
            "properties_json": [
                json.dumps(f.get("properties") or {}) for f in feats
            ],
        }),
        "zone_id long, collection string, geometry_wkb binary, "
        "geom_type string, properties_json string",
    )
    return feats, zones


def _nullify(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def raster_stats(*args, **kwargs):
    """Deprecated alias (reference main.py:25-31)."""
    warnings.warn(
        "'raster_stats' is an alias to 'zonal_stats' and will disappear in 1.0",
        DeprecationWarning,
    )
    return zonal_stats(*args, **kwargs)


def zonal_stats(*args, **kwargs):
    """Eager wrapper (reference main.py:34-54)."""
    return list(gen_zonal_stats(*args, **kwargs))


def gen_zonal_stats(
    vectors,
    raster,
    layer=0,
    band=1,
    nodata=None,
    affine=None,
    stats=None,
    all_touched=False,
    categorical=False,
    category_map=None,
    add_stats=None,
    zone_func=None,
    raster_out=False,
    prefix=None,
    geojson_out=False,
    boundless=True,
    spark=None,
    **kwargs,
):
    """Zonal statistics generator (reference main.py:57-337 parity).

    Extra engine kwargs: ``spark`` (session; default shared local),
    ``zone_func_mode`` ('gather'|'elementwise'). Default 'gather': the user
    fn sees the WHOLE masked zone array, exactly like the reference
    (main.py:217-228) — safe for any transform (x - x.mean(), filters...).
    'elementwise' is the opt-in scale path for transforms that commute with
    tiling (x+2, x*3, clipping): it applies the fn per (zone, tile) partial
    so the zone never has to be mosaicked in one task.
    """
    stats, _ = check_stats(stats, categorical)

    # 1.0 deprecations (reference main.py:159-179)
    transform = kwargs.pop("transform", None)
    if transform:
        warnings.warn(
            "GDAL-style transforms will disappear in 1.0. "
            "Use affine=Affine.from_gdal(*transform) instead",
            DeprecationWarning,
        )
        if affine is None:
            t = tuple(transform)
            affine = (t[1], t[2], t[0], t[4], t[5], t[3])
    if kwargs.pop("copy_properties", None):
        warnings.warn(
            "Use `geojson_out` to preserve feature properties", DeprecationWarning
        )
    band_num = kwargs.pop("band_num", None)
    if band_num:
        warnings.warn("Use `band` to specify band number", DeprecationWarning)
        band = band_num
    kwargs.pop("global_src_extent", None)  # accepted+ignored (main.py:74)
    zone_func_mode = kwargs.pop("zone_func_mode", "gather")
    kwargs.pop("progress", None)

    spark = spark or get_spark()
    feats, zones = _features_to_zone_rows(spark, vectors, layer)
    tiles, datasets, dataset = _resolve_raster(spark, raster, affine, nodata, band)
    from .operators.zonal import collect_dataset_meta

    meta = collect_dataset_meta(datasets)
    dt = meta.get(dataset, {}).get("dtype")
    int_keys = dt is not None and np.issubdtype(np.dtype(dt), np.integer)

    # add_stats dispatch (SURVEY §2.4 A18): plain callables need the whole
    # masked zone array -> gather tier (the reference's execution model);
    # (partial_fn, merge_fn, finalize_fn) triples run on the scalable
    # partial/merge path and never mosaic a zone into one task.
    _is_triple = lambda v: isinstance(v, (tuple, list)) and len(v) == 3
    mergeable_add = bool(add_stats) and all(
        _is_triple(v) for v in add_stats.values()
    )
    if add_stats and not mergeable_add and any(
        _is_triple(v) for v in add_stats.values()
    ):
        # a mixed dict would route EVERYTHING to the gather tier, where a
        # triple dies opaquely inside the executor (inspect.signature on a
        # tuple) — fail fast on the driver instead
        triples = sorted(k for k, v in add_stats.items() if _is_triple(v))
        plains = sorted(k for k, v in add_stats.items() if not _is_triple(v))
        raise ValueError(
            "add_stats mixes (partial, merge, finalize) triples "
            f"({triples}) with plain callables ({plains}); use one "
            "protocol for the whole dict — all triples for the "
            "distributed partial/merge path, or all plain callables for "
            "the gather tier"
        )
    use_gather = (bool(add_stats) and not mergeable_add) or raster_out or (
        zone_func is not None and zone_func_mode != "elementwise"
    )
    pctiles = [s for s in stats if s.startswith("percentile_")]
    base_stats = [s for s in stats if not s.startswith("percentile_")]

    if use_gather and mergeable_add:
        raise ValueError(
            "add_stats (partial, merge, finalize) triples run on the "
            "distributed partial/merge path, which raster_out and "
            "whole-zone zone_func cannot use — pass plain callables for "
            "the gather tier, or zone_func_mode='elementwise'"
        )
    if use_gather:
        from .operators.gather import zonal_gather_df

        result = zonal_gather_df(
            zones, tiles, datasets, dataset=dataset,
            stats=base_stats + pctiles, all_touched=all_touched,
            categorical=categorical, nodata=nodata, boundless=boundless,
            zone_func=zone_func, add_stats=add_stats, raster_out=raster_out,
        )
    else:
        from .operators.zonal import zonal_stats_df

        result = zonal_stats_df(
            zones, tiles, datasets, dataset=dataset,
            stats=base_stats + pctiles, all_touched=all_touched,
            categorical=categorical, nodata=nodata, boundless=boundless,
            zone_func=zone_func, meta=meta,
            band=band if isinstance(raster, TileRaster) else 1,
            add_stats=add_stats if mergeable_add else None,
        )

    rows = {r["zone_id"]: r.asDict() for r in result.collect()}
    addstat_names = list(add_stats or {})

    for i, feat in enumerate(feats):
        r = rows.get(i, {})
        feature_stats: dict = {}
        if categorical:
            vc = r.get("value_counts") or {}
            # reference keys.item() preserves the raster dtype
            # (main.py:237-248): int keys for integer rasters
            key = int if int_keys else float
            pixel_count = {key(k): int(v) for k, v in vc.items()}
            if category_map:
                pixel_count = K.remap_categories(category_map, pixel_count)
            feature_stats.update(pixel_count)
        for s in stats:
            v = _nullify(r.get(s))
            if s == "count":
                feature_stats["count"] = int(v) if v is not None else 0
            elif s == "unique":
                feature_stats["unique"] = int(v) if v is not None else None
            elif s in ("nodata", "nan"):
                feature_stats[s] = float(v) if v is not None else 0.0
            else:
                feature_stats[s] = float(v) if v is not None else None
        for name in addstat_names:
            feature_stats[name] = _nullify(r.get(name))
        if raster_out:
            mr = r.get("mini_raster")
            if mr is not None:
                from . import codecs as C

                data = C.decode_tile(bytes(mr["data"]), "npy")
                mask = C.decode_tile(bytes(mr["mask"]), "npy")
                feature_stats["mini_raster_array"] = np.ma.MaskedArray(data, mask=mask)
                feature_stats["mini_raster_affine"] = tuple(mr["affine"])
                feature_stats["mini_raster_nodata"] = mr["nodata"]
        if prefix is not None:
            feature_stats = {f"{prefix}{k}": v for k, v in feature_stats.items()}
        if geojson_out:
            if "properties" not in feat or feat["properties"] is None:
                feat["properties"] = {}
            feat["properties"].update(feature_stats)
            yield feat
        else:
            yield feature_stats


def point_query(*args, **kwargs):
    """Eager wrapper (reference point.py:90-98)."""
    return list(gen_point_query(*args, **kwargs))


def gen_point_query(
    vectors,
    raster,
    band=1,
    layer=0,
    nodata=None,
    affine=None,
    interpolate="bilinear",
    property_name="value",
    geojson_out=False,
    boundless=True,
    spark=None,
):
    """Point query generator (reference point.py:101-207 parity)."""
    if interpolate not in ("nearest", "bilinear"):
        raise ValueError("interpolate must be nearest or bilinear")
    spark = spark or get_spark()
    feats, zones = _features_to_zone_rows(spark, vectors, layer)
    tiles, datasets, dataset = _resolve_raster(spark, raster, affine, nodata, band)
    from .operators.point import point_query_df

    result = point_query_df(
        zones, tiles, datasets, dataset=dataset,
        interpolate=interpolate, nodata=nodata, boundless=boundless,
        band=band if isinstance(raster, TileRaster) else 1,
    )
    by_zone: dict[int, dict[int, float | None]] = {}
    for r in result.collect():
        by_zone.setdefault(r["zone_id"], {})[r["vertex_idx"]] = _nullify(r["value"])

    for i, feat in enumerate(feats):
        vdict = by_zone.get(i, {})
        vals = [vdict.get(vi) for vi in sorted(vdict)]
        out = vals[0] if len(vals) == 1 else vals  # point.py:198-199
        if geojson_out:
            if "properties" not in feat or feat["properties"] is None:
                feat["properties"] = {}
            feat["properties"][property_name] = out
            yield feat
        else:
            yield out


def stats_to_csv(stats):
    """CSV text from a list of stat dicts (reference utils.py:58-77)."""
    import csv
    from io import StringIO

    csv_fh = StringIO()
    keys = set()
    for stat in stats:
        keys.update(stat.keys())
    fieldnames = sorted(keys, key=str)
    csvwriter = csv.DictWriter(csv_fh, delimiter=",", fieldnames=fieldnames)
    csvwriter.writerow({fn: fn for fn in fieldnames})
    for row in stats:
        csvwriter.writerow(row)
    contents = csv_fh.getvalue()
    csv_fh.close()
    return contents
