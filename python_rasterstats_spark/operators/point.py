"""Distributed point query — raster values at geometry vertices.

Replaces the reference's per-vertex loop (point.py:169-199) with:

    zones ──mapInPandas──▶ vertex windows: one row per (vertex, covering
                           tile), carrying the ≤4 needed pixel positions
                           (a 2×2 bilinear window can straddle up to 4
                           tiles — the seam case, J3)
                │ LEFT equi-join on tile key (missing tile → masked)
    tiles ──────┘
                ▼ mapInPandas gather: decode payload once per tile per
                  batch, emit (vertex, pos, value|null)
                ▼ groupBy(zone_id, vertex_idx) applyInPandas:
                  bilinear w/ masked-nearest fallback (point.py:29-65)
                  or nearest (point.py:179-189)

Returns (zone_id, vertex_idx, value). The API layer reassembles the
reference's scalar-or-list output shape (point.py:198-199).
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
from .zonal import _BEYOND_EXTENT, collect_dataset_meta

_WINDOWS_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("vertex_idx", T.IntegerType()),
        T.StructField("dataset", T.StringType()),
        T.StructField("tile_col", T.IntegerType()),
        T.StructField("tile_row", T.IntegerType()),
        T.StructField("prows", T.ArrayType(T.IntegerType())),
        T.StructField("pcols", T.ArrayType(T.IntegerType())),
        T.StructField("poss", T.ArrayType(T.IntegerType())),
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

    ``broadcast_vertices=True`` hints the vertex-window side (and the
    per-vertex interpolation output) into broadcast hash joins so the tile
    scan never shuffles — right whenever the vertex set fits executor
    memory. For huge vertex sets pass False to keep the SMJ fallback
    reachable (same regime switch as zonal_stats_df's broadcast_zones)."""
    if interpolate not in ("nearest", "bilinear"):
        raise ValueError("interpolate must be nearest or bilinear")
    meta = collect_dataset_meta(datasets)
    if dataset is not None:
        if dataset not in meta:
            raise ValueError(f"dataset {dataset!r} not in datasets table")
        zones = zones.withColumn("dataset", F.lit(dataset))
    bilin = interpolate == "bilinear"
    fast = None
    if prune_tiles and broadcast_vertices:
        # scan-level pruning, same shape as zonal (the vertex set is
        # broadcast-regime small, so collecting bboxes costs nothing);
        # bilinear windows reach 1 px outside the bbox — widen by one tile
        from .zonal import tile_prune_filter

        gd = {
            (r["zone_id"], r["dataset"]): bytes(r["geometry_wkb"])
            for r in zones.select("zone_id", "dataset", "geometry_wkb").collect()
        }
        pred = tile_prune_filter(
            gd, meta, pad_tiles=1,
            quadkey_col="quadkey" if "quadkey" in tiles.columns else None,
            quadkey_level=quadkey_level,
            prefix_col="qk_prefix" if "qk_prefix" in tiles.columns else None,
        )
        if pred is not None:
            tiles = tiles.filter(pred)
        # broadcast fast path (mirrors zonal's broadcast_cover_cells): the
        # vertex dim is on the driver already, so the per-vertex pixel
        # windows are derived HERE and broadcast as a tile-keyed dict; the
        # gather runs as ONE mapInPandas over the pruned tile scan — no
        # window-explode stage, no persist, no broadcast join. Falls back
        # to the lazy executor path when any vertex would hit the
        # boundless=False raise, so error timing is unchanged.
        fast = _driver_windows(gd, meta, bilin=bilin, boundless=boundless)
    if fast is not None:
        wmap, vkey_rows = fast
        spark = zones.sparkSession
        bc = spark.sparkContext.broadcast(wmap)

        def gather_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            wm = bc.value
            for pdf in batches:
                rows = {name: [] for name in _GATHER_SCHEMA.fieldNames()}
                for ds, tc, tr, payload, fmt in zip(
                    pdf["dataset"], pdf["tile_col"], pdf["tile_row"],
                    pdf["bytes"], pdf["fmt"],
                ):
                    wins = wm.get((ds, tc, tr))
                    if not wins:
                        continue
                    m = meta[ds]
                    nd = nodata if nodata is not None else m["nodata"]
                    nd = -999.0 if nd is None else nd
                    block = np.asarray(C.decode_tile(bytes(payload), fmt))
                    if block.ndim == 3:  # band select (S6, io.py:279)
                        block = block[band - 1]
                    block = block.astype(np.float64)
                    for zid, vi, pix, ux, uy in wins:
                        for pr, pc, pos in pix:
                            val = None
                            rr = pr - tr * m["tile_h"]
                            cc = pc - tc * m["tile_w"]
                            if 0 <= rr < block.shape[0] and 0 <= cc < block.shape[1]:
                                v = float(block[rr, cc])
                                # masked-read semantics: nodata → masked
                                # (io.py:218-219 with masked=True)
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

        # exact-key semi join (broadcast, JVM-side): vertex windows touch
        # few tiles, so without it every pruned-scan tile's payload would
        # cross Arrow just to be discarded by the dict lookup. The key set
        # is driver-known and vertex-sized by regime.
        keys_df = spark.createDataFrame(
            [(ds, tc, tr) for (ds, tc, tr) in wmap],
            "dataset string, tile_col int, tile_row int",
        )
        gathered = (
            tiles.select("dataset", "tile_col", "tile_row", "bytes", "fmt")
            .join(
                F.broadcast(keys_df),
                ["dataset", "tile_col", "tile_row"],
                "left_semi",
            )
            .mapInPandas(gather_tiles, _GATHER_SCHEMA)
        )
        vkeys = spark.createDataFrame(
            vkey_rows, "zone_id long, vertex_idx int"
        )
        return _interp_join(gathered, vkeys, bilin, F.broadcast)

    def explode_vertices(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
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
                        rows["prows"].append([p[0] for p in pix])
                        rows["pcols"].append([p[1] for p in pix])
                        rows["poss"].append([p[2] for p in pix])
                        rows["ux"].append(ux)
                        rows["uy"].append(uy)
            if rows["zone_id"]:
                yield pd.DataFrame(rows)

    from .zonal import spread

    windows = spread(zones.select("zone_id", "dataset", "geometry_wkb")).mapInPandas(
        explode_vertices, _WINDOWS_SCHEMA
    )

    # the vertex-window table is tiny by construction — persist it so the
    # vkeys branch below doesn't recompute the explode
    windows = windows.persist()
    if prune_tiles and not broadcast_vertices:
        # SMJ regime (vertex set too large to collect): fence the tile
        # scan with the same collect-free Morton-bucketed rect aggregation
        # zonal uses (smj_bounds_filter) — the persisted window table
        # already carries the exact tile keys, so each key is its own
        # degenerate rect and only ≤64 tiny rows per dataset reach the
        # driver. Superset-safe: dropped tiles join no window; missing
        # tiles are reinstated as NULL via vkeys exactly as before.
        from .zonal import smj_bounds_filter

        wrects = windows.select(
            "dataset",
            F.col("tile_col").cast("long").alias("tc0"),
            F.col("tile_col").cast("long").alias("tc1"),
            F.col("tile_row").cast("long").alias("tr0"),
            F.col("tile_row").cast("long").alias("tr1"),
        )
        pred = smj_bounds_filter(wrects, meta)
        if pred is not None:
            tiles = tiles.filter(pred)
    # INNER broadcast join (a left join can't broadcast its left side and
    # would shuffle the tile table); vertices whose tiles are all missing
    # are reinstated as NULL after interpolation via vkeys
    _bc = F.broadcast if broadcast_vertices else (lambda d: d)
    vkeys = windows.select("zone_id", "vertex_idx").distinct()
    joined = _bc(windows).join(
        tiles.select("dataset", "tile_col", "tile_row", "bytes", "fmt"),
        ["dataset", "tile_col", "tile_row"],
        "inner",
    )

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode_cache = K.LRU(256)
        for pdf in batches:
            rows = {name: [] for name in _GATHER_SCHEMA.fieldNames()}
            for (
                zid, vi, ds, tc, tr, prows, pcols, poss, ux, uy, payload, fmt
            ) in zip(
                pdf["zone_id"], pdf["vertex_idx"], pdf["dataset"],
                pdf["tile_col"], pdf["tile_row"], pdf["prows"], pdf["pcols"],
                pdf["poss"], pdf["ux"], pdf["uy"], pdf["bytes"], pdf["fmt"],
            ):
                m = meta[ds]
                nd = nodata if nodata is not None else m["nodata"]
                nd = -999.0 if nd is None else nd
                block = None
                if payload is not None:
                    key = (ds, tc, tr)
                    block = decode_cache.get(key)
                    if block is None:
                        block = np.asarray(C.decode_tile(bytes(payload), fmt))
                        if block.ndim == 3:  # band select (S6, io.py:279)
                            block = block[band - 1]
                        block = block.astype(np.float64)
                        decode_cache.put(key, block)
                for pr, pc, pos in zip(prows, pcols, poss):
                    val = None
                    if block is not None:
                        rr = pr - tr * m["tile_h"]
                        cc = pc - tc * m["tile_w"]
                        if 0 <= rr < block.shape[0] and 0 <= cc < block.shape[1]:
                            v = float(block[rr, cc])
                            # masked-read semantics: nodata → masked
                            # (io.py:218-219 with masked=True)
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

    gathered = joined.mapInPandas(gather, _GATHER_SCHEMA)
    return _interp_join(gathered, vkeys, bilin, _bc)


def _vertex_windows(zid, ds, wkb, meta: dict, *, bilin: bool, boundless: bool):
    """Per-vertex pixel windows of one zone, grouped by covering tile key:
    yields ``(vertex_idx, ux, uy, {(tc, tr): [(pr, pc, pos), ...]})`` —
    the one derivation behind both the executor-side explode and the
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


def _driver_windows(gd: dict, meta: dict, *, bilin: bool, boundless: bool):
    """Driver-side twin of the explode_vertices stage. Returns
    ``({(ds, tc, tr): [(zid, vi, [(pr, pc, pos)...], ux, uy)...]},
    [(zid, vi)...])`` — the vertex keys DISTINCT, as the executor path's
    ``distinct()`` makes them, so a zone_id under several datasets yields
    one output row per vertex either way — or None when any zone would
    raise (caller falls back to the lazy executor path so the error
    surfaces at action time, as before)."""
    wmap: dict = {}
    vkeys: dict = {}  # insertion-ordered set
    try:
        for (zid, ds), wkb in gd.items():
            for vi, ux, uy, by_tile in _vertex_windows(
                zid, ds, wkb, meta, bilin=bilin, boundless=boundless
            ):
                for (tc, tr), pix in by_tile.items():
                    wmap.setdefault((ds, tc, tr), []).append(
                        (zid, vi, pix, ux, uy)
                    )
                vkeys[(zid, vi)] = None
    except ValueError:
        return None
    return wmap, list(vkeys)


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
