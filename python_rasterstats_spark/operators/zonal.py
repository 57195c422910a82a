"""Distributed zonal statistics — the engine's core operator.

Replaces the reference's per-feature Python loop (main.py:183-337) with a
tile-driven Spark plan (Raptor, VLDB 2019: build the vector↔raster
intersection index from metadata, then make one pass over the raster):

    zones ──driver──▶ cover index {(dataset, tile_col, tile_row): zones}
                      + scan prune predicate (tile-key / quadkey ranges)
                                   │ broadcast (SMJ regime: cover cells
                                   │ grouped per tile key, joined to tiles)
    tiles ──pruned scan────────────┤ [+ NULL-payload rows for cover keys
                                   ▼  with no stored tile — J4 fill]
            ONE mapInPandas partial kernel, ONE pass per tile: decode
            the payload and build its nodata/NaN masks once, rasterize
            all its covering zones in one scanline fill (global
            alignment → seam-safe), read each zone's block as a view of
            the tile, emit mergeable partial structs               [P2-P5]
                                   │
         zonal_result, the one partials→stats tail (also run by the
         checkpointed jobs and the incremental state):
         scalar-only: groupBy(zone_id) JVM agg (whole-stage codegen,
         map-side combine)                                         [A1-A6]
         holistic: ONE merge shape — repartition(zone key) +
         sortWithinPartitions + mapInPandas streaming fold_partials (one
         fold of scalars + (value, count) arrays: exact median/percentiles/
         majority/minority/unique/value_counts) over each Arrow batch's
         complete groups — as the optional salted pre-merge (re-sketched
         for continuous rasters) and as the final merge           [A7-A15]
                                   │
                                   ▼ broadcast join back to zones      [J2]
                     final projection w/ empty-zone semantics          [A17]

Scale properties:
- every tile payload crosses Arrow once, whatever the zone count covering
  it, and tiles are never shuffled in the broadcast regime (incl.
  boundless nodata, whose missing-tile keys come from a key-only scan);
  the only shuffle is the zone-keyed merge of partial structs, with
  map-side combine (scalar path) or salted pre-merge (holistic path)
  bounding the reduce fan-in.
- a small broadcast-regime query runs its Python work in ONE wave of
  tasks (one per core): tile_driven_input coalesces the kernel input
  (narrow, no shuffle) to no more tasks than a scan of just the kernel's
  tiles would have, and never fewer than one wave; every driver-built
  frame is an Arrow LocalTableScan (local_frame), not a Python RDD; and
  the join-back base is rebuilt from the zone rows collected at build,
  so the zones input is read once. Why: a Python task has a fixed cost
  of about 0.09 core-seconds under get_spark's worker entry (0.21-0.34
  under stock pyspark.worker, whose importlib.invalidate_caches re-reads
  pyspark.zip's directory on every task; tools/task_overhead.py,
  local[4], CPython 3.11) — still more than the kernel work of a pruned
  scan's split: without the coalesce, sparse_interactive's scalar and
  holistic medians are 27% and 16% slower.
- errors the driver detects while building the cover index (unknown
  dataset, beyond-extent with boundless=False, cover cap) still surface
  at action time with the reference's messages: the kernel's input is
  then a one-row stage that raises.
- skewed (continent-sized) zones fan out to one partial per covering
  tile, so their partial work spreads across all executors; the salted
  pre-merge re-spreads the merge of hot zones.
- holistic stats are exact at parity scale: merged (value, count) pairs
  reproduce np.percentile's linear interpolation and np.unique-order
  tiebreaks (reference main.py:270-292, utils.py:117-122). Past
  ``auto_px_per_zone`` bbox pixels per zone the default
  ``holistic_mode='auto'`` switches plans with no knob: on continuous
  float rasters (exact domain degenerates to one pair per pixel) a
  deterministic uniform-rank quantile summary bounds the shuffle
  (kernel.sketch_weighted — count/min/max stay exact, quantile rank error
  ≤ n/(8×sketch_px)); when the exact domain is required, a salted
  two-stage exact merge spreads the hot zone instead. ``'exact'``/
  ``'sketch'`` force either plan.
"""

from __future__ import annotations

import functools
import math
from collections import Counter
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import codecs as C
from .. import geom as G
from .. import kernel as K

# ---------------------------------------------------------------------------
# dataset metadata
# ---------------------------------------------------------------------------


def collect_dataset_meta(datasets: DataFrame) -> dict:
    """Materialize the (tiny) datasets dimension to a plain dict that is
    shipped to executors inside UDF closures."""
    return dataset_meta(row.asDict() for row in datasets.collect())


def dataset_meta(rows) -> dict:
    """The dataset meta dict of datasets-table rows given as dicts."""
    meta = {}
    for row in rows:
        meta[row["dataset"]] = {
            "affine": tuple(row["affine"]),
            "height": int(row["height"]),
            "width": int(row["width"]),
            "tile_w": int(row["tile_w"]),
            "tile_h": int(row["tile_h"]),
            "nodata": None if row["nodata"] is None else float(row["nodata"]),
            "fmt": row["fmt"],
            "band_count": int(row.get("band_count") or 1),
            "dtype": row.get("dtype"),
        }
    return meta


def local_frame(spark, pdf: pd.DataFrame, schema) -> DataFrame:
    """The one way the engine turns driver-side rows into a DataFrame:
    ``pdf`` (columns taken by name from ``schema``, a StructType or DDL
    string) goes to the JVM as Arrow batches and becomes a
    LocalTableScan (up to spark.sql.execution.arrow.localRelationThreshold,
    else a JVM-side RDD). A ``createDataFrame`` of a Python list is a
    Python RDD instead: every scan of it runs Python tasks, each paying
    the fixed per-task cost (module docstring)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    table = pa.Table.from_pandas(
        pdf[schema.names], schema=to_arrow_schema(schema), preserve_index=False
    )
    return spark.createDataFrame(table, schema)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow table so the following stage parallelizes —
    zone tables and small document corpora often arrive as one parquet
    file → one task. SKIPPED when the input already has ≥ target
    partitions (r5 verdict #6: at 10⁹ zones the unconditional round-robin
    was a gratuitous full shuffle of an already-spread table). The
    partition probe plans the RDD without executing it — tens of ms,
    cheap next to either outcome."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _effective_geom(wkb: bytes, aff):
    """Decode + point-boxify (reference main.py:186-187, utils.py:125-145)."""
    geom = G.wkb_loads(bytes(wkb))
    if "Point" in geom["type"]:
        geom = K.boxify_points(geom, aff)
    return geom


# ---------------------------------------------------------------------------
# stage 1 — cover cells
# ---------------------------------------------------------------------------

def _zone_tile_window(geom, m: dict, clip_to_grid: bool):
    """(tr0, tr1, tc0, tc1, ncells) of a zone's covering tile window —
    the ONE bbox→tile-window derivation shared by the cover-cell
    generator, the pruning predicates and the hybrid-WKB sizing pass, so
    their decisions can never diverge."""
    aff = m["affine"]
    (r0, r1), (c0, c1) = K.bounds_window(G.geom_bounds(geom), aff)
    tr0, tr1 = math.floor(r0 / m["tile_h"]), math.floor((r1 - 1) / m["tile_h"])
    tc0, tc1 = math.floor(c0 / m["tile_w"]), math.floor((c1 - 1) / m["tile_w"])
    if clip_to_grid:
        ntr = math.ceil(m["height"] / m["tile_h"])
        ntc = math.ceil(m["width"] / m["tile_w"])
        tr0, tr1 = max(tr0, 0), min(tr1, ntr - 1)
        tc0, tc1 = max(tc0, 0), min(tc1, ntc - 1)
    ncells = max(tr1 - tr0 + 1, 0) * max(tc1 - tc0 + 1, 0)
    return tr0, tr1, tc0, tc1, ncells


def _cells_schema(with_geometry: bool) -> T.StructType:
    fields = [
        T.StructField("zone_id", T.LongType()),
        T.StructField("dataset", T.StringType()),
        T.StructField("tile_col", T.IntegerType()),
        T.StructField("tile_row", T.IntegerType()),
    ]
    if with_geometry:
        fields.append(T.StructField("geometry_wkb", T.BinaryType()))
    return T.StructType(fields)


def broadcast_zone_geoms(zones: DataFrame):
    """Broadcast the one-row-per-zone geometry dim as a plain dict keyed by
    (zone_id, dataset).

    The broadcast-regime answer to per-cell WKB duplication: a continent
    zone covering millions of tiles stores its (potentially multi-MB) WKB
    exactly ONCE per executor, instead of once per covering tile inside
    the broadcast relation and again per row through the kernel-stage
    Arrow stream. Collecting here costs the same driver memory a broadcast
    hash join of the zone dim would (the driver builds the broadcast
    relation either way)."""
    geoms, _ = collect_zone_rows(zones)
    return zones.sparkSession.sparkContext.broadcast(geoms)


def collect_zone_rows(zones: DataFrame):
    """One read of the zone dim: ``({(zone_id, dataset): wkb}, zone_ids)``,
    ``zone_ids`` holding one entry per input row, in row order, duplicates
    kept — enough to rebuild the join-back base on the driver."""
    geoms, zone_ids = {}, []
    for row in zones.select("zone_id", "dataset", "geometry_wkb").collect():
        geoms[(row["zone_id"], row["dataset"])] = bytes(row["geometry_wkb"])
        zone_ids.append(row["zone_id"])
    return geoms, zone_ids


def _zone_tile_rects(geoms: dict, meta: dict, *, pad_tiles: int = 0) -> dict:
    """Per-ZONE clipped tile rectangles, grouped by dataset:
    ``{dataset: [(tc0, tc1, tr0, tr1), ...]}`` — the same bbox→tile-window
    math as zone_cover_cells (so every cover cell lies inside its zone's
    rect), padded by ``pad_tiles`` and clipped to the stored tile grid
    (tiles outside the grid don't exist, so clipping cannot lose a join
    partner)."""
    rects: dict = {}
    for (zid, ds), wkb in geoms.items():
        m = meta.get(ds)
        if m is None:
            continue
        aff = m["affine"]
        geom = _effective_geom(wkb, aff)
        (r0, r1), (c0, c1) = K.bounds_window(G.geom_bounds(geom), aff)
        tr0 = math.floor(r0 / m["tile_h"]) - pad_tiles
        tr1 = math.floor((r1 - 1) / m["tile_h"]) + pad_tiles
        tc0 = math.floor(c0 / m["tile_w"]) - pad_tiles
        tc1 = math.floor((c1 - 1) / m["tile_w"]) + pad_tiles
        ntr = math.ceil(m["height"] / m["tile_h"])
        ntc = math.ceil(m["width"] / m["tile_w"])
        tr0, tr1 = max(tr0, 0), min(tr1, ntr - 1)
        tc0, tc1 = max(tc0, 0), min(tc1, ntc - 1)
        if tr0 > tr1 or tc0 > tc1:
            continue  # zone entirely off-grid: joins no stored tile
        rects.setdefault(ds, []).append((tc0, tc1, tr0, tr1))
    return rects


def _coalesce_rects(rects: list, max_rects: int) -> list:
    """Dedup + containment-drop, then cap the rectangle count by grouping
    Morton-ordered neighbors and replacing each group with its bounding
    box (always a SUPERSET — pruning stays correct, only less tight).
    Morton ordering keeps grouped rects spatially close, so the group
    bboxes stay tight for clustered zones."""
    uniq = sorted(set(rects))
    if len(uniq) <= 4 * max_rects:
        # containment drop is O(n²) — only worth it (and only affordable
        # driver-side) when the set is already near the cap; larger sets
        # go straight to Morton grouping, which subsumes contained rects
        kept = []
        for r in uniq:
            if any(
                o[0] <= r[0] and r[1] <= o[1] and o[2] <= r[2] and r[3] <= o[3]
                for o in uniq
                if o != r
            ):
                continue
            kept.append(r)
    else:
        kept = uniq
    if len(kept) <= max_rects:
        return kept
    # boundless windows (clip_to_grid=False) can have negative centers;
    # K.quadkey rejects negatives — clamp for the SORT KEY only (mirrors
    # the F.greatest clamp in smj_bounds_filter; grouping tightness may
    # suffer at the grid edge, the emitted bounds never change)
    kept.sort(
        key=lambda r: K.quadkey(
            max(0, (r[0] + r[1]) // 2), max(0, (r[2] + r[3]) // 2)
        )
    )
    per = math.ceil(len(kept) / max_rects)
    out = []
    for i in range(0, len(kept), per):
        grp = kept[i : i + per]
        out.append(
            (
                min(g[0] for g in grp),
                max(g[1] for g in grp),
                min(g[2] for g in grp),
                max(g[3] for g in grp),
            )
        )
    return out


def _quad_cover_ranges(
    tc0: int, tc1: int, tr0: int, tr1: int, level: int
) -> list:
    """Inclusive level-``level`` Morton-code (quadkey) ranges covering the
    tile rectangle — the recursive quad-tree cover: a quad cell fully
    inside the rect emits its whole code range in one piece; partially
    overlapping cells subdivide. To bound the output for huge rects, cells
    at most ``cellcap`` tiles wide are accepted whole once they overlap at
    all (a SUPERSET — never loses a tile)."""
    span = max(tc1 - tc0 + 1, tr1 - tr0 + 1)
    cellcap = 1
    while cellcap * 8 < span:  # ≲ (8+2)^2 cells per rect before merging
        cellcap *= 2
    out: list = []

    def rec(prefix: int, size: int, cx0: int, cy0: int) -> None:
        if cx0 > tc1 or cy0 > tr1 or cx0 + size - 1 < tc0 or cy0 + size - 1 < tr0:
            return
        inside = (
            cx0 >= tc0 and cx0 + size - 1 <= tc1
            and cy0 >= tr0 and cy0 + size - 1 <= tr1
        )
        if inside or size <= cellcap:
            shift = 2 * int(math.log2(size))
            out.append((prefix << shift, ((prefix + 1) << shift) - 1))
            return
        half = size // 2
        for q in range(4):
            cbit, rbit = q & 1, q >> 1
            rec(
                (prefix << 2) | (rbit << 1) | cbit,
                half,
                cx0 + cbit * half,
                cy0 + rbit * half,
            )

    rec(0, 1 << level, 0, 0)
    return out


def _merge_ranges(ranges: list, max_ranges: int) -> list:
    """Sort + merge overlapping/adjacent inclusive ranges, then cap the
    count by KEEPING the ``max_ranges - 1`` largest gaps as separators
    (the optimal coalescing: the false-positive key space added is exactly
    the dropped gaps, so dropping the smallest gaps first adds the least)."""
    if not ranges:
        return []
    ranges = sorted(ranges)
    merged = [list(ranges[0])]
    for lo, hi in ranges[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    if len(merged) > max_ranges:
        gaps = sorted(
            range(1, len(merged)),
            key=lambda i: merged[i][0] - merged[i - 1][1],
            reverse=True,
        )[: max_ranges - 1]
        keep = sorted(gaps)
        out = []
        start = 0
        for g in keep + [len(merged)]:
            out.append([merged[start][0], merged[g - 1][1]])
            start = g
        merged = out
    return [(lo, hi) for lo, hi in merged]


# coverage fraction of the union range above which per-zone granularity
# is collapsed back to the union (the disjunction would admit nearly
# everything anyway, so only the predicate overhead would remain)
_DENSE_FRAC = 0.5


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def quadkey_prune_ranges(
    geoms: dict,
    meta: dict,
    *,
    level: int = 16,
    pad_tiles: int = 0,
    max_ranges: int = 64,
) -> dict:
    """Per-dataset quadkey range sets covering every zone's tile window:
    ``{dataset: [(lo, hi), ...]}`` over the level-``level`` Morton code
    (sources/tables.with_quadkey layout: col bits even, row bits odd).
    Ranges are merged and capped at ``max_ranges`` per dataset by
    coalescing across the smallest gaps (superset-safe)."""
    out = {}
    grid = 1 << level
    for ds, rects in _zone_tile_rects(geoms, meta, pad_tiles=pad_tiles).items():
        if any(r[1] >= grid or r[3] >= grid for r in rects):
            # a grid wider than 2^level tiles overflows the Morton code
            # (with_quadkey drops the high bits, so distant tiles SHARE
            # codes); covering only the in-level window would silently
            # EXCLUDE real tiles — and so would ANY finite BETWEEN list
            # if storage was written at a HIGHER level than assumed here
            # (stored codes can exceed 4^level - 1). Emit the None
            # sentinel = no quadkey constraint at all for this dataset
            # (superset-safe: its scan keeps only the dataset clause)
            out[ds] = None
            continue
        # bound driver work for huge zone sets: past 4×max_ranges rects
        # the final cap collapses most ranges anyway, so coalesce rects
        # first (superset-safe) instead of covering 10⁵ rects one by one
        rects = _coalesce_rects(rects, 4 * max_ranges)
        ranges: list = []
        for tc0, tc1, tr0, tr1 in rects:
            ranges.extend(_quad_cover_ranges(tc0, tc1, tr0, tr1, level))
        out[ds] = _merge_ranges(ranges, max_ranges)
    return out


def tile_prune_filter(
    geoms: dict,
    meta: dict,
    *,
    pad_tiles: int = 0,
    max_ranges: int = 64,
    quadkey_col: str | None = None,
    quadkey_level: int = 16,
    prefix_col: str | None = None,
):
    """Scan-level tile-pruning predicate from the collected zone dim.

    At 100 TB this is the difference between scanning the planet and
    scanning the working set: the predicate reaches the parquet scan
    (PushedFilters), so row groups — and with dataset/tile-key partition
    or bucket layout, whole files — outside every zone's working set are
    never read. Correct by superset: any tile that could join a cover
    cell lies inside its zone's padded bbox rect (``pad_tiles`` widens
    every rect — the point operator's 2×2 bilinear windows reach 1 px
    past the vertex bbox). Returns None when nothing can be pruned.

    Two storage regimes:

    - ``quadkey_col=None`` (plain corpora): a capped disjunction of
      PER-ZONE (dataset, tile_col BETWEEN, tile_row BETWEEN) rectangles —
      unlike the old single union bbox, sparse scattered zone sets keep
      per-zone granularity until ``max_ranges`` rects, then coalesce
      Morton-ordered neighbors (still far tighter than one planet bbox).
    - ``quadkey_col='quadkey'`` (quadkey-sorted/Iceberg-style storage):
      per-zone quad-tree cover → ≤ ``max_ranges`` 1-D quadkey ranges per
      dataset. Because the corpus is SORTED by quadkey, each range maps
      to a contiguous run of row groups / files, so parquet min-max stats
      skip everything else — the reference's per-feature windowed read
      (io.py:292-362) done at storage level.
    """
    # Predicates are built as ONE SQL string handed to F.expr: composing
    # a 64-term disjunction from Column operators costs hundreds of py4j
    # round-trips (~2 s measured at 64 rects) and a 100+-node boolean
    # tree that Catalyst re-optimizes on EVERY action; the parsed string
    # costs one round-trip. Dense working sets additionally collapse to
    # their union range when per-zone granularity can't prune anyway
    # (coverage > _DENSE_FRAC of the union) — sparse scattered zones keep
    # full per-zone granularity, dense corpora keep the r3-cheap plan.
    parts = []
    if quadkey_col is not None:
        by_ds = quadkey_prune_ranges(
            geoms, meta, level=quadkey_level, pad_tiles=pad_tiles,
            max_ranges=max_ranges,
        )
        for ds, ranges in by_ds.items():
            if ranges is None:
                # Morton overflow (grid wider than 2^quadkey_level):
                # stored codes may exceed any range this level can
                # express — keep only the dataset clause (unpruned scan
                # for this dataset, never a wrong one)
                parts.append(f"(dataset = {_sql_str(ds)})")
                continue
            if not ranges:
                continue
            span = ranges[-1][1] - ranges[0][0] + 1
            cov = sum(hi - lo + 1 for lo, hi in ranges)
            if len(ranges) > 1 and cov > _DENSE_FRAC * span:
                ranges = [(ranges[0][0], ranges[-1][1])]
            rng = " OR ".join(
                f"{quadkey_col} BETWEEN {lo} AND {hi}" for lo, hi in ranges
            )
            clause = f"dataset = {_sql_str(ds)} AND ({rng})"
            if prefix_col is not None:
                # partitioned storage: an IN-list over the quad-prefix
                # partition column prunes whole DIRECTORIES at listing
                # time (PartitionFilters) before any file is opened; the
                # shift is re-derived from the SAME dataset grid dims the
                # writer used, so partition values always agree
                from ..sources.tables import dataset_prefix_shifts

                shift = dataset_prefix_shifts(meta)[ds]
                prefixes = sorted(
                    {
                        p
                        for lo, hi in ranges
                        for p in range(lo >> shift, (hi >> shift) + 1)
                    }
                )
                inlist = ", ".join(str(p) for p in prefixes)
                clause += f" AND {prefix_col} IN ({inlist})"
            parts.append(f"({clause})")
    else:
        for ds, rects in _zone_tile_rects(
            geoms, meta, pad_tiles=pad_tiles
        ).items():
            rects = _coalesce_rects(rects, max_ranges)
            if not rects:
                continue
            u = (
                min(r[0] for r in rects),
                max(r[1] for r in rects),
                min(r[2] for r in rects),
                max(r[3] for r in rects),
            )
            cov = sum(
                (r[1] - r[0] + 1) * (r[3] - r[2] + 1) for r in rects
            )
            area = (u[1] - u[0] + 1) * (u[3] - u[2] + 1)
            if len(rects) > 1 and cov > _DENSE_FRAC * area:
                rects = [u]
            rng = " OR ".join(
                f"(tile_col BETWEEN {tc0} AND {tc1} "
                f"AND tile_row BETWEEN {tr0} AND {tr1})"
                for tc0, tc1, tr0, tr1 in rects
            )
            parts.append(f"(dataset = {_sql_str(ds)} AND ({rng}))")
    if not parts:
        return None
    return F.expr(" OR ".join(parts))


_BEYOND_EXTENT = (
    "Window/bounds is outside dataset extent, boundless reads are disabled"
)


def _cap_message(zid, ncells: int, cap: int) -> str:
    return f"zone {zid} covers {ncells} tiles (> max_cells_per_zone={cap})"


def zone_cover_cells(
    zones: DataFrame,
    meta: dict,
    *,
    clip_to_grid: bool,
    max_cells_per_zone: int = 4_000_000,
    raise_beyond_extent: bool = False,
    with_geometry: bool = False,
    null_wkb_keys: frozenset | set | None = None,
) -> DataFrame:
    """Explode each zone into its covering tile keys (J1 filter phase) on
    the executors — the SMJ regime (zone set too large to collect) of the
    zonal and crosstab operators, and the gather tier; the broadcast
    regime derives the same keys on the driver (broadcast_cover_cells).

    The bbox→window math is the reference's partition pruning
    (main.py:189-191, io.py:156-161) re-expressed as join-key generation.
    With ``clip_to_grid=False`` cells outside the tile grid are also emitted
    (they join to nothing and synthesize boundless nodata fill — J4).
    ``raise_beyond_extent`` reproduces the reference's boundless=False
    guard (io.py:323-326): a zone window outside the dataset extent raises.

    Cells are KEY-ONLY by default — geometry is attached downstream from
    the one-row-per-zone dim (broadcast_zone_geoms), never stored per
    (zone, tile). ``with_geometry=True`` carries the WKB on each cell row
    instead: the SMJ regime (zone set too large to broadcast/collect)
    needs it to ride the tile-key shuffle, which is cheaper than a second
    payload-bearing shuffle to attach geometry by zone afterwards —
    EXCEPT for zones in ``null_wkb_keys`` (the hybrid regime's few
    large-WKB × many-cell zones), whose cells carry NULL and whose
    geometry ships once per executor via a small broadcast dict instead
    of once per covering tile through the exchange.
    """
    null_wkb_keys = null_wkb_keys or frozenset()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_zid, out_ds, out_tc, out_tr, out_wkb = [], [], [], [], []
            for zid, ds, wkb in zip(
                pdf["zone_id"], pdf["dataset"], pdf["geometry_wkb"]
            ):
                m = meta.get(ds)
                if m is None:
                    raise ValueError(f"zone {zid}: unknown dataset {ds!r}")
                aff = m["affine"]
                geom = _effective_geom(wkb, aff)
                if raise_beyond_extent and K.beyond_extent(
                    K.bounds_window(G.geom_bounds(geom), aff),
                    (m["height"], m["width"]),
                ):
                    raise ValueError(_BEYOND_EXTENT)
                tr0, tr1, tc0, tc1, ncells = _zone_tile_window(
                    geom, m, clip_to_grid
                )
                if ncells <= 0:
                    continue
                if ncells > max_cells_per_zone:
                    raise ValueError(
                        _cap_message(zid, ncells, max_cells_per_zone)
                    )
                trs = np.arange(tr0, tr1 + 1, dtype=np.int32)
                tcs = np.arange(tc0, tc1 + 1, dtype=np.int32)
                out_zid.append(np.full(ncells, zid, dtype=np.int64))
                out_ds.extend([ds] * ncells)
                out_tc.append(np.tile(tcs, len(trs)))
                out_tr.append(np.repeat(trs, len(tcs)))
                if with_geometry:
                    cell_wkb = None if (zid, ds) in null_wkb_keys else wkb
                    out_wkb.extend([cell_wkb] * ncells)
            if not out_ds:
                continue
            cols = {
                "zone_id": np.concatenate(out_zid),
                "dataset": out_ds,
                "tile_col": np.concatenate(out_tc),
                "tile_row": np.concatenate(out_tr),
            }
            if with_geometry:
                cols["geometry_wkb"] = out_wkb
            yield pd.DataFrame(cols)

    return spread(zones.select("zone_id", "dataset", "geometry_wkb")).mapInPandas(
        gen, _cells_schema(with_geometry)
    )


def zone_cell_counts(
    zones: DataFrame, meta: dict, *, clip_to_grid: bool = True
) -> DataFrame:
    """One row per zone: (zone_id, dataset, wkb_bytes, ncells) — the
    distributed sizing pass behind the hybrid-WKB regime. ncells uses the
    same _zone_tile_window derivation as zone_cover_cells, so the
    wkb_bytes × ncells duplication estimate is exactly what the cell
    generator would ship.

    The returned DataFrame carries a row-counting accumulator
    (``df._sizing_rows_acc``, also ``_LAST_SIZING_ACC``): each evaluation
    adds one per zone row, so tests can assert the pass ran ONCE (the
    caller persists it across its 2-3 consumers) — at 10⁹ zones a second
    evaluation would be a second full zones scan."""
    acc = zones.sparkSession.sparkContext.accumulator(0)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "zone_id", "dataset", "wkb_bytes", "ncells",
                "tc0", "tc1", "tr0", "tr1",
            )}
            for zid, ds, wkb in zip(
                pdf["zone_id"], pdf["dataset"], pdf["geometry_wkb"]
            ):
                m = meta.get(ds)
                if m is None:
                    raise ValueError(f"zone {zid}: unknown dataset {ds!r}")
                geom = _effective_geom(wkb, m["affine"])
                tr0, tr1, tc0, tc1, ncells = _zone_tile_window(
                    geom, m, clip_to_grid
                )
                rows["zone_id"].append(zid)
                rows["dataset"].append(ds)
                rows["wkb_bytes"].append(len(wkb))
                rows["ncells"].append(ncells)
                rows["tc0"].append(tc0)
                rows["tc1"].append(tc1)
                rows["tr0"].append(tr0)
                rows["tr1"].append(tr1)
            acc.add(len(rows["zone_id"]))
            if rows["zone_id"]:
                yield pd.DataFrame(rows)

    out = spread(zones.select("zone_id", "dataset", "geometry_wkb")).mapInPandas(
        gen,
        "zone_id long, dataset string, wkb_bytes long, ncells long, "
        "tc0 long, tc1 long, tr0 long, tr1 long",
    )
    out._sizing_rows_acc = acc
    global _LAST_SIZING_ACC
    _LAST_SIZING_ACC = acc
    return out


# test hook: accumulator of the most recent sizing pass (see docstring)
_LAST_SIZING_ACC = None


def _max_zone_px(geoms: dict, meta: dict) -> int:
    """Largest per-zone bbox pixel window over the collected zone dim —
    the broadcast-regime size estimate feeding the auto holistic plan
    (superset of true zone pixels; same bounds math as the cover cells)."""
    mx = 0
    for (_zid, ds), wkb in geoms.items():
        m = meta.get(ds)
        if m is None:
            continue
        geom = _effective_geom(wkb, m["affine"])
        (r0, r1), (c0, c1) = K.bounds_window(G.geom_bounds(geom), m["affine"])
        mx = max(mx, max(0, r1 - r0) * max(0, c1 - c0))
    return mx


def auto_holistic_plan(
    est_px: int,
    *,
    want_exact_domain: bool,
    continuous: bool,
    threshold_px: int,
) -> str:
    """The driver-side heuristic behind ``holistic_mode='auto'`` (the
    default): returns 'exact', 'sketch' or 'salt'.

    - est_px ≤ threshold: 'exact' — every parity-scale corpus lands here
      (bit-equal to the reference; kernel merge cost is trivial).
    - above threshold, quantiles-only on a CONTINUOUS (float) raster:
      'sketch' — the exact (value,count) merge would move ~1 pair per
      pixel for a continent zone (no duplicates to collapse); the bounded
      quantile summary is the only plan whose state doesn't grow with px.
    - above threshold with the exact domain required on a CONTINUOUS
      raster: 'exact' — a salted pre-merge cannot collapse a domain with
      no duplicates, so it only re-serializes the full value multiset
      through a second pandas round while the final task still holds the
      same multiset (measured 4–5× slower on the 604 M-px corpus:
      247 s salted vs 51 s exact, identical results).
    - above threshold on an INTEGER (bounded-domain) raster needing the
      exact domain: 'salt' — cross-block duplicates collapse in the
      pre-merge, so the final merge sees ≤ salt × |domain| rows instead
      of one row per distinct (block, value).
    """
    if est_px <= threshold_px:
        return "exact"
    if continuous and not want_exact_domain:
        return "sketch"
    if continuous:
        return "exact"
    return "salt"


_DEFAULT_SALT = 16


def holistic_plan(
    holistic_mode: str,
    *,
    want_holistic: bool,
    want_exact_domain: bool,
    est_px: int,
    continuous: bool,
    threshold_px: int,
    salt: int | None,
    sketch_px: int,
):
    """The holistic merge plan, resolved in ONE step: ``(kernel sketch_px
    or None, salt, recompress_px)`` for ``holistic_mode`` 'exact',
    'sketch', or 'auto' (auto_holistic_plan on the per-zone size
    estimate). The sketch plan always pre-merges: each (zone, salt) group
    is re-sketched to 8×sketch_px points, so the final merge sees ≤
    salt×8×sketch_px points per zone whatever the corpus size. The salt
    plan spreads each hot zone over ≤ min(``salt``, kernel tasks)
    pre-merge groups (the salt is the kernel's partition id mod ``salt``)."""
    plan = holistic_mode
    if want_holistic and plan == "auto":
        plan = auto_holistic_plan(
            est_px, want_exact_domain=want_exact_domain,
            continuous=continuous, threshold_px=threshold_px,
        )
    if want_holistic and plan == "sketch":
        return sketch_px, salt or _DEFAULT_SALT, sketch_px * 8
    if want_holistic and plan == "salt" and salt is None:
        salt = _DEFAULT_SALT
    return None, salt, None


def _morton_expr(colc, colr, level: int = 16):
    """Morton interleave of two integer Columns (col bits even, row bits
    odd) — the JVM-expression twin of kernel.quadkey."""
    qk = None
    for k in range(level):
        cbit = F.shiftleft(
            F.shiftright(colc, k).bitwiseAND(F.lit(1)).cast("long"), 2 * k
        )
        rbit = F.shiftleft(
            F.shiftright(colr, k).bitwiseAND(F.lit(1)).cast("long"), 2 * k + 1
        )
        term = cbit.bitwiseOR(rbit)
        qk = term if qk is None else qk.bitwiseOR(term)
    return qk


def _smj_bucket_rows(counts: DataFrame, meta: dict | None, extra_aggs=()):
    """The sizing-pass bucket aggregation shared by smj_bounds_filter and
    smj_sizing_summary: per-zone tile windows grouped DISTRIBUTED by the
    quad-prefix of each window's center (≤64 Morton buckets per dataset,
    the same grid-adaptive shift the partition transform uses), each
    bucket's bounding rect aggregated — only tiny rows reach the driver.
    ``extra_aggs`` extends the aggregation so further per-dataset scalars
    (size estimate, hybrid cost bound) ride the SAME job instead of
    re-scanning the sizing table once per consumer."""
    if meta is not None:
        from ..sources.tables import dataset_prefix_shifts

        shifts = dataset_prefix_shifts(meta)
        cc = ((F.col("tc0") + F.col("tc1")) / 2).cast("long")
        cr = ((F.col("tr0") + F.col("tr1")) / 2).cast("long")
        # negative centers (zones off-grid left/top with clip_to_grid
        # False) break the bit interleave — clamp to 0 (bucketing only
        # affects grouping tightness, never the rect bounds)
        qk = _morton_expr(F.greatest(cc, F.lit(0)), F.greatest(cr, F.lit(0)))
        shift_case = " ".join(
            f"WHEN dataset = {_sql_str(ds)} THEN {sh}"
            for ds, sh in shifts.items()
        )
        grouped = counts.withColumn("_qk", qk).withColumn(
            "_b", F.expr(f"shiftright(_qk, CASE {shift_case} ELSE 0 END)")
        ).groupBy("dataset", "_b")
    else:
        grouped = counts.groupBy("dataset")
    return grouped.agg(
        F.min("tc0").alias("tc0"),
        F.max("tc1").alias("tc1"),
        F.min("tr0").alias("tr0"),
        F.max("tr1").alias("tr1"),
        *extra_aggs,
    ).collect()


def _rects_pred(by_ds: dict):
    """Per-dataset rect lists → the scan predicate (dense sets collapse
    to their union exactly as tile_prune_filter does)."""
    parts = []
    for ds, rects in by_ds.items():
        rects = _coalesce_rects(rects, 64)
        u = (
            min(r[0] for r in rects),
            max(r[1] for r in rects),
            min(r[2] for r in rects),
            max(r[3] for r in rects),
        )
        cov = sum((r[1] - r[0] + 1) * (r[3] - r[2] + 1) for r in rects)
        area = (u[1] - u[0] + 1) * (u[3] - u[2] + 1)
        if len(rects) > 1 and cov > _DENSE_FRAC * area:
            rects = [u]
        rng = " OR ".join(
            f"(tile_col BETWEEN {tc0} AND {tc1} "
            f"AND tile_row BETWEEN {tr0} AND {tr1})"
            for tc0, tc1, tr0, tr1 in rects
        )
        parts.append(f"(dataset = {_sql_str(ds)} AND ({rng}))")
    return F.expr(" OR ".join(parts)) if parts else None


def smj_bounds_filter(counts: DataFrame, meta: dict | None = None):
    """Scan pruning for the SMJ regime, where the zone geometries are
    never collected (see _smj_bucket_rows for the distributed grouping).
    Without ``meta`` (grid dims unknown) it falls back to one union bbox
    per dataset. Superset-safe by the same window math as the cover
    cells."""
    rows = _smj_bucket_rows(counts, meta)
    by_ds: dict = {}
    for r in rows:
        by_ds.setdefault(r["dataset"], []).append(
            (r["tc0"], r["tc1"], r["tr0"], r["tr1"])
        )
    return _rects_pred(by_ds)


def smj_sizing_summary(counts: DataFrame, meta: dict):
    """ONE job serving all three sizing-pass consumers (scan fence, auto-
    holistic size estimate, hybrid-WKB decision): the bucket aggregation
    of smj_bounds_filter extended with per-bucket max ncells and max
    wkb×ncells cost. Returns (pred, est_px, max_cost) where est_px is the
    largest per-zone bbox pixel estimate over all datasets and max_cost
    bounds every zone's per-cell WKB duplication — when it does not
    exceed the hybrid threshold, the per-zone top-cost query (a second
    read of the sizing table) is skipped entirely."""
    rows = _smj_bucket_rows(
        counts, meta,
        extra_aggs=(
            F.max("ncells").alias("_mx_cells"),
            F.max(F.col("wkb_bytes") * F.col("ncells")).alias("_mx_cost"),
        ),
    )
    by_ds: dict = {}
    est_px = 0
    max_cost = 0
    for r in rows:
        by_ds.setdefault(r["dataset"], []).append(
            (r["tc0"], r["tc1"], r["tr0"], r["tr1"])
        )
        m = meta.get(r["dataset"])
        if m is not None and r["_mx_cells"] is not None:
            est_px = max(est_px, r["_mx_cells"] * m["tile_w"] * m["tile_h"])
        if r["_mx_cost"] is not None:
            max_cost = max(max_cost, r["_mx_cost"])
    return _rects_pred(by_ds), est_px, max_cost


def hybrid_big_zone_geoms(
    zones: DataFrame,
    meta: dict,
    *,
    clip_to_grid: bool,
    threshold_bytes: int,
    max_zones: int = 4096,
    counts: DataFrame | None = None,
):
    """The hybrid-WKB selection for the SMJ regime (r3 verdict 'What's
    wrong #1'): find the zones whose per-cell WKB duplication
    (wkb_bytes × covering cells) would exceed ``threshold_bytes`` through
    the tile-key exchange — the MB-scale continent polygons covering
    10⁴-10⁶ tiles each — and ship exactly those once per executor via a
    broadcast dict instead. Returns (broadcast_dict_or_None, key_set);
    deterministic (ordered by duplication desc, then keys) and capped at
    ``max_zones`` rows / driver memory, which bounds the collect however
    huge the zone set is — zones past the cap simply stay inline, which
    is correct, just heavier."""
    spark = zones.sparkSession
    cost = F.col("wkb_bytes") * F.col("ncells")
    if counts is None:
        counts = zone_cell_counts(zones, meta, clip_to_grid=clip_to_grid)
    big = (
        counts.filter(cost > threshold_bytes)
        .orderBy(F.desc(cost), "zone_id", "dataset")
        .limit(max_zones)
        .collect()
    )
    if not big:
        return None, frozenset()
    keys = frozenset((r["zone_id"], r["dataset"]) for r in big)
    ids = list({r["zone_id"] for r in big})
    d = {}
    for row in (
        zones.filter(F.col("zone_id").isin(ids))
        .select("zone_id", "dataset", "geometry_wkb")
        .collect()
    ):
        k = (row["zone_id"], row["dataset"])
        if k in keys:
            d[k] = bytes(row["geometry_wkb"])
    return spark.sparkContext.broadcast(d), keys


# ---------------------------------------------------------------------------
# stage 2 — partial kernel
# ---------------------------------------------------------------------------

def _partial_schema(
    compact_vc: bool = False, with_band: bool = False, user_cols: tuple = ()
) -> T.StructType:
    """Partial-row schema. ``compact_vc`` packs the value-count arrays into
    BINARY blobs (float32-LE values + int32-LE counts, counts empty when
    they are all 1s) — lossless when the raster dtype is float32, half the
    bytes of double/long arrays, and — the bigger win — one memcpy per row
    through Arrow and the Tungsten shuffle instead of per-element array
    handling (measured ~2× on the holistic stage)."""
    vt = T.BinaryType() if compact_vc else T.ArrayType(T.DoubleType())
    ct = T.BinaryType() if compact_vc else T.ArrayType(T.LongType())
    return T.StructType(
        ([T.StructField("zone_id", T.LongType())]
         + ([T.StructField("band", T.IntegerType())] if with_band else []))
        + [
            T.StructField("count", T.LongType()),
            T.StructField("sum", T.DoubleType()),
            T.StructField("sum_i", T.LongType()),
            T.StructField("sumsq", T.DoubleType()),
            T.StructField("min", T.DoubleType()),
            T.StructField("max", T.DoubleType()),
            T.StructField("nodata_count", T.LongType()),
            T.StructField("nan_count", T.LongType()),
            T.StructField("vc_vals", vt),
            T.StructField("vc_cnts", ct),
        ]
        + [T.StructField(f"u_{n}", T.ArrayType(T.DoubleType())) for n in user_cols]
    )



_MASK_BUDGET_PX = 1 << 21
"""Most mask pixels (zones × window) one rasterize_many call of the tile
pass produces: its (k, h, w) bool masks plus the fill's int64 count per
pixel stay under ~18 MB however many zones cover a tile. A zone whose own
window is larger still gets a call of its own."""


def _tile_pixels(m: dict, decoded, fill):
    """A tile's pixels over its nominal (tile_h, tile_w) extent. Normally
    the decoded array itself; a short edge tile, or a NULL payload (no
    stored tile, decoded=None), becomes a copy padded with ``fill`` — the
    EFFECTIVE nodata (override if set, else dataset nodata, else -999), as
    the reference fills boundless reads (io.py:331-340), so pad pixels
    always fail the validity test. The windowed-read semantics mirror
    Raster.read (io.py:292-362) with the tile grid in place of the
    rasterio dataset."""
    shape = (m["tile_h"], m["tile_w"])
    if decoded is None:
        return np.full(shape, fill, dtype=np.float64)
    if decoded.shape != shape:
        return K.boundless_array(decoded, ((0, shape[0]), (0, shape[1])), fill)
    return decoded


def _tile_zones(meta: dict, geoms, *, all_touched: bool):
    """THE per-tile refine step of the zonal and crosstab kernels.

    ``covered(ds, tc, tr, zl)`` yields ``(zone_id, (rows, cols), rv)`` for
    each zone of ``zl`` (``[(zone_id, wkb or None), ...]``, _zone_lists)
    that covers a pixel of the tile, in ``zl`` order: the tile-relative
    slices of the zone's pixel window clipped to the tile, and its cover
    mask there. All of a tile's zones are rasterized together, one
    kernel.rasterize_many call (one scanline pass; global pixel alignment
    → seam-safe) per chunk of at most _MASK_BUDGET_PX mask pixels. A
    zone's pixel geometry, scanline edges and window are cached per task;
    a missing ``wkb`` resolves from the ``geoms`` broadcast."""
    cache = K.LRU(1024)

    def prepared(zid, ds, wkb):
        key = (zid, ds)
        hit = cache.get(key)
        if hit is None:
            aff = meta[ds]["affine"]
            geom = _effective_geom(geoms.value[key] if wkb is None else wkb, aff)
            pgeom = K.geom_to_pixel(geom, aff)
            hit = (pgeom, K.pixgeom_edges(pgeom),
                   K.bounds_window(G.geom_bounds(geom), aff))
            cache.put(key, hit)
        return hit

    def covered(ds, tc, tr, zl):
        m = meta[ds]
        th, tw = m["tile_h"], m["tile_w"]
        ty, tx = tr * th, tc * tw
        todo = []
        for zid, wkb in zl:
            pgeom, edges, ((wr0, wr1), (wc0, wc1)) = prepared(zid, ds, wkb)
            r0, r1 = max(wr0, ty), min(wr1, ty + th)
            c0, c1 = max(wc0, tx), min(wc1, tx + tw)
            if r0 < r1 and c0 < c1:
                todo.append((zid, pgeom, edges, r0, r1, c0, c1))
        step = max(1, _MASK_BUDGET_PX // (th * tw))
        for s in range(0, len(todo), step):
            chunk = todo[s:s + step]
            u0, u1 = min(z[3] for z in chunk), max(z[4] for z in chunk)
            v0, v1 = min(z[5] for z in chunk), max(z[6] for z in chunk)
            masks = K.rasterize_many(
                [z[1] for z in chunk], ((u0, u1), (v0, v1)), all_touched,
                edges=[z[2] for z in chunk],
            )
            for (zid, _, _, r0, r1, c0, c1), mask in zip(chunk, masks):
                rv = mask[r0 - u0:r1 - u0, c0 - v0:c1 - v0]
                if rv.any():
                    yield zid, (slice(r0 - ty, r1 - ty), slice(c0 - tx, c1 - tx)), rv

    return covered


def _zone_lists(pdf: pd.DataFrame, cover):
    """Per kernel-input row, ``(tile key, [(zone_id, wkb or None), ...])``:
    the covering zones from the broadcast ``cover`` dict (a miss is a scan
    false positive) or, with ``cover=None``, from the ``zs`` column."""
    tkeys = zip(pdf["dataset"], pdf["tile_col"], pdf["tile_row"])
    if cover is None:
        return zip(tkeys, (
            [(z["zone_id"], z["geometry_wkb"]) for z in zs] for zs in pdf["zs"]
        ))
    cov = cover.value
    return ((k, [(zid, None) for zid in cov.get(k, ())]) for k in tkeys)


def group_cover_cells(cells: DataFrame, keys) -> DataFrame:
    """The SMJ regime's zone-list source: cover cells (``with_geometry``)
    grouped per tile key into ``zs`` (zone_id, geometry_wkb) structs, so
    the join to the tiles emits one row per tile, not one payload-bearing
    row per (zone, tile) pair. A NULL wkb (hybrid big zone) resolves from
    the geometry broadcast."""
    return cells.groupBy(*keys).agg(
        F.collect_list(F.struct("zone_id", "geometry_wkb")).alias("zs")
    )


def _tile_planes(m: dict, payload, fmt, nd, bands):
    """One tile's pixel planes for the partial kernel, decoded once:
    ``(label, pixels, pixels == nd, NaN mask)`` per ``(label, band
    number)`` of ``bands``, each over the tile's nominal extent
    (_tile_pixels) so that a zone's block and masks are views. A mask
    with no pixel set is None (kernel.partial_stats ``masks``)."""
    decoded = None
    if payload is not None:
        # native dtype end-to-end; stats accumulate in f64
        decoded = np.asarray(C.decode_tile(bytes(payload), fmt))
    planes = []
    for label, bno in bands:
        d = decoded
        if d is not None and d.ndim == 3:
            d = d[bno - 1]  # band select (S6)
        px = _tile_pixels(m, d, nd)
        isnd = px == nd
        isnan = np.isnan(px) if px.dtype.kind == "f" else None
        planes.append((label, px, isnd if isnd.any() else None,
                       isnan if isnan is not None and isnan.any() else None))
    return planes


def partial_generator(
    meta: dict,
    *,
    cover=None,
    all_touched: bool,
    nodata_override,
    want_counts: bool,
    zone_func=None,
    band: int = 1,
    sketch_px: int | None = None,
    compact_vc: bool = False,
    bands: list | None = None,
    geoms=None,
    user_partials: dict | None = None,
):
    """``(gen, schema)``: the body of partial_kernel (same arguments, minus
    the input DataFrame) — ``gen`` maps an iterator of pandas kernel-input
    frames to frames of ``schema`` partial rows. partial_kernel runs it in
    mapInPandas; tools/kernel_body.py replays it in process.

    Per input tile: the covering zones that have pixels in it are
    rasterized together (_tile_zones); the payload is decoded once, and
    the tile's nodata and NaN masks are built once (_tile_planes); each
    zone's block is a view of the tile."""
    if bands is not None and zone_func is not None:
        raise ValueError("bands and zone_func cannot be combined")
    user_partials = user_partials or {}
    if bands is not None and user_partials:
        raise ValueError("bands and user add_stats cannot be combined")
    schema = _partial_schema(
        compact_vc, with_band=bands is not None, user_cols=tuple(user_partials)
    )
    names = schema.fieldNames()
    plane_bands = ([(None, band)] if bands is None
                   else [(bno, bno) for bno in bands])
    consts = {}

    def dataset_consts(ds):
        """(effective nodata, int64-sum hint) of a dataset, computed once."""
        if ds not in consts:
            m = meta[ds]
            nd = nodata_override if nodata_override is not None else m["nodata"]
            # int64-sum hint from the DATASET dtype: boundless pads may
            # promote a block to float64 (kernel.fill_dtype) but the
            # raster stays integer-semantics (kernel.partial_stats)
            consts[ds] = (
                -999.0 if nd is None else nd,  # io.py:331-340 default
                bool(np.issubdtype(np.dtype(m["dtype"]), np.integer))
                if m.get("dtype") else None,
            )
        return consts[ds]

    def zone_partial(rows, zid, block, bnd, bnan, rv, nd, int_sum):
        """Append one zone's partial row for one block; False if empty."""
        if zone_func is None:
            p = K.partial_stats(block, rv, nd, want_counts, sketch_px=sketch_px,
                                int_sum=int_sum, masks=(bnd, bnan))
        if zone_func is not None or user_partials:
            # the user fn may write into its array: give it a copy, never
            # a view of the tile the next zone reads
            block = block.copy()
            bad = ~rv
            for mk in (bnd, bnan):
                if mk is not None:
                    bad |= mk
            masked = np.ma.MaskedArray(block, mask=bad)
        if zone_func is not None:
            # elementwise pre-transform (main.py:217-228); the masked
            # array the user fn sees is this partial's block
            ret = zone_func(masked)
            if ret is not None:
                masked = ret
            tblock = np.ma.filled(masked.astype(np.float64), np.nan)
            cover2 = ~np.ma.getmaskarray(masked)
            p = K.partial_stats(tblock, cover2, None, want_counts,
                                sketch_px=sketch_px)
            p["nodata_count"] = int(np.count_nonzero((block == nd) & rv))
            p["nan_count"] = (0 if bnan is None
                              else int(np.count_nonzero(bnan & rv)))
        if p["count"] == 0 and p["nodata_count"] == 0 and p["nan_count"] == 0:
            return False
        rows["zone_id"].append(zid)
        _append_partial(rows, p, compact_vc)
        # (zone_func: `masked` is the post-transform array, matching
        # reference add_stats-after-zone_func)
        for uname, pfn in user_partials.items():
            st = np.asarray(pfn(masked), dtype=np.float64).ravel()
            rows[f"u_{uname}"].append(st.tolist())
        return True

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        covered = _tile_zones(meta, geoms, all_touched=all_touched)
        for pdf in batches:
            rows = {name: [] for name in names}
            for ((ds, tc, tr), zl), payload, fmt in zip(
                _zone_lists(pdf, cover), pdf["bytes"], pdf["fmt"]
            ):
                planes = None
                for zid, (rs, cs), rv in covered(ds, tc, tr, zl):
                    if planes is None:
                        nd, int_sum = dataset_consts(ds)
                        planes = _tile_planes(meta[ds], payload, fmt, nd, plane_bands)
                    for bno, px, isnd, isnan in planes:
                        added = zone_partial(
                            rows, zid, px[rs, cs],
                            None if isnd is None else isnd[rs, cs],
                            None if isnan is None else isnan[rs, cs],
                            rv, nd, int_sum,
                        )
                        if added and bno is not None:
                            rows["band"].append(bno)
            if rows["zone_id"]:
                yield pd.DataFrame(rows)

    return gen, schema


_TILE_COLS = ("dataset", "tile_col", "tile_row", "bytes", "fmt")


def partial_kernel(tiles: DataFrame, meta: dict, *, cover=None, **kw) -> DataFrame:
    """The tile-driven refine + partial aggregation (J1 refine phase +
    P2-P5 masks + A1-A15 partial states): one input row per tile
    ``(dataset, tile_col, tile_row, bytes, fmt)`` — NULL ``bytes`` for a
    cover key with no stored tile (boundless nodata fill) — and one
    partial row per (zone, tile) pair with pixels. The body
    (partial_generator) makes ONE pass per tile: its payload crosses Arrow
    and is decoded once, its nodata/NaN masks are built once, and all its
    covering zones are rasterized in one scanline fill; each zone's block
    is then a view of the tile, not a copy.

    A tile's covering zones come from one of two sources (_zone_lists):

    - ``cover``: the broadcast dict ``{(dataset, tile_col, tile_row):
      [zone_id, ...]}`` from broadcast_cover_cells (broadcast regime);
      geometry comes from ``geoms`` (broadcast_zone_geoms), stored once
      per zone per executor.
    - ``cover=None``: a ``zs`` column holding the tile's (zone_id,
      geometry_wkb) structs (group_cover_cells, SMJ regime); a NULL wkb
      (hybrid regime big zone) resolves from ``geoms``.

    ``user_partials`` maps stat name → partial_fn(masked) returning a
    fixed-length float state vector per (zone, tile) block — the SCALABLE
    add_stats protocol (SURVEY §2.4 A18): the user fn runs on mergeable
    partials instead of a gathered whole-zone mosaic. The masked array it
    sees has the same semantics as the reference's (nodata/NaN/outside-
    zone masked), restricted to this partial's block; states merge via the
    matching merge_fn in merged_stats.

    With ``bands`` set, ONE pass emits per-band partial rows: the payload
    is decoded once and the zone rasterized once per (zone, tile) pair,
    shared across all requested bands (the multiband-in-one-pass path;
    mutually exclusive with zone_func)."""
    gen, schema = partial_generator(meta, cover=cover, **kw)
    cols = _TILE_COLS if cover is not None else (
        "dataset", "tile_col", "tile_row", "zs", "bytes", "fmt"
    )
    return tiles.select(*cols).mapInPandas(gen, schema)


def broadcast_cover_cells(
    spark,
    geoms: dict,
    meta: dict,
    *,
    clip_to_grid: bool = True,
    max_cells_per_zone: int = 4_000_000,
    raise_beyond_extent: bool = False,
):
    """Driver-side twin of zone_cover_cells for the broadcast regime: the
    zone dim is ALREADY collected (broadcast_zone_geoms), so the covering
    tile keys are derived on the driver and shipped as one broadcast dict
    ``{(dataset, tile_col, tile_row): [zone_id, ...]}`` — the cover source
    of partial_kernel. ``clip_to_grid=False`` also keeps keys outside the
    tile grid (boundless nodata fill, see tile_driven_input).

    Returns the Broadcast, or — when a zone hits an error path (unknown
    dataset, beyond-extent with boundless=False, cover-cell cap) — the
    first pending error message, same text as zone_cover_cells raises;
    tile_driven_input turns it into a stage that raises at action time."""
    cover = cover_dict(
        geoms, meta, clip_to_grid=clip_to_grid,
        max_cells_per_zone=max_cells_per_zone,
        raise_beyond_extent=raise_beyond_extent,
    )
    return cover if isinstance(cover, str) else spark.sparkContext.broadcast(cover)


def cover_dict(
    geoms: dict,
    meta: dict,
    *,
    clip_to_grid: bool = True,
    max_cells_per_zone: int = 4_000_000,
    raise_beyond_extent: bool = False,
):
    """broadcast_cover_cells' dict (or pending error message), unbroadcast."""
    cover: dict = {}
    for (zid, ds), wkb in geoms.items():
        m = meta.get(ds)
        if m is None:
            return f"zone {zid}: unknown dataset {ds!r}"
        aff = m["affine"]
        geom = _effective_geom(wkb, aff)
        if raise_beyond_extent and K.beyond_extent(
            K.bounds_window(G.geom_bounds(geom), aff),
            (m["height"], m["width"]),
        ):
            return _BEYOND_EXTENT
        tr0, tr1, tc0, tc1, ncells = _zone_tile_window(geom, m, clip_to_grid)
        if ncells <= 0:
            continue
        if ncells > max_cells_per_zone:
            return _cap_message(zid, ncells, max_cells_per_zone)
        for tr in range(tr0, tr1 + 1):
            for tc in range(tc0, tc1 + 1):
                cover.setdefault((ds, tc, tr), []).append(zid)
    return cover


def _kernel_tasks(spark, keys, meta: dict) -> int:
    """Task count of a tile-driven kernel stage over the tile ``keys``
    ``(dataset, tile_col, tile_row)`` it reads: as many as a scan of just
    those tiles would have at the session's split size (their raw payload
    bytes / spark.sql.files.maxPartitionBytes), and at least one wave."""
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    need = 0
    for ds, n in Counter(k[0] for k in keys).items():
        m = meta.get(ds)
        if m is not None:
            px = m["tile_w"] * m["tile_h"] * m.get("band_count", 1)
            need += n * px * np.dtype(m.get("dtype") or "float64").itemsize
    return max(spark.sparkContext.defaultParallelism, -(-need // split))


def tile_driven_input(
    tiles: DataFrame, cover, meta: dict, *, fill_missing: bool = False
):
    """(kernel input, cover) for a tile-driven kernel in the broadcast
    regime, from the kernel's input ``tiles``, its cover source
    (broadcast_cover_cells' result, or the point query's window dict) and
    the dataset ``meta``.

    ``fill_missing`` (boundless nodata/nan) unions in one NULL-payload row
    per cover key with no stored tile, so the kernel synthesizes its fill
    from the cover mask alone. Spark cannot broadcast the left side of an
    anti join, and cover-keys ⟕ tiles would shuffle the tile table, so the
    missing keys come from a broadcast inner join of the cover keys
    against the key-only (column-pruned, no payload bytes) scan, then a
    left-anti join of the cover keys against that small result.

    A pending error message becomes a one-row stage with the schema of
    ``tiles`` that raises it when the action runs (with an empty cover):
    the error surfaces at action time, as with the executor-side
    generators, and no pruned-to-empty scan can swallow it.

    The input is coalesced (narrow, no shuffle) to _kernel_tasks: a
    pruned scan keeps the split count of the whole table, so a small
    query's kernel runs as ONE wave of Python tasks instead of one task
    per (mostly empty) split, each paying a fixed set-up cost (about
    0.09 core-seconds, module docstring) above its kernel work. A scan
    that admits most of the table keeps its splits: merging those too
    raised the batch workload's peak RSS by 31-41% (4-vCPU host; the JVM
    heap grows with the busier pipeline). A task streams its splits
    through the kernel in Arrow batches, so its Python memory does not
    grow with the splits it reads."""
    spark = tiles.sparkSession
    if isinstance(cover, str):
        msg = cover

        def pending_error(batches):
            for _ in batches:
                raise ValueError(msg)
            yield from ()

        stage = spark.range(1, numPartitions=1).mapInPandas(
            pending_error, tiles.schema
        )
        return stage, spark.sparkContext.broadcast({})
    if "bytes" in tiles.columns:
        # a tile table (crosstab's value⋈class pairs are not): project the
        # kernel's columns BELOW the coalesce, so the scan's codegen stage
        # builds each row once — a projection above the coalesce would
        # copy every payload a second time
        tiles = tiles.select(*_TILE_COLS)
    tasks = _kernel_tasks(spark, cover.value, meta)
    if not fill_missing or not cover.value:
        return tiles.coalesce(tasks), cover
    keys = list(_TILE_COLS[:3])
    cover_keys = local_frame(
        spark, pd.DataFrame(list(cover.value), columns=keys),
        "dataset string, tile_col int, tile_row int",
    )
    present = F.broadcast(cover_keys).join(tiles.select(*keys), keys, "inner")
    missing = (
        cover_keys.join(F.broadcast(present), keys, "left_anti")
        .withColumn("bytes", F.lit(None).cast("binary"))
        .withColumn("fmt", F.lit(None).cast("string"))
    )
    return tiles.unionByName(missing).coalesce(tasks), cover


def _append_partial(rows: dict, p: dict, compact_vc: bool) -> None:
    rows["count"].append(p["count"])
    rows["sum"].append(p["sum"])
    rows["sum_i"].append(p["sum_i"])
    rows["sumsq"].append(p["sumsq"])
    rows["min"].append(p["min"])
    rows["max"].append(p["max"])
    rows["nodata_count"].append(p["nodata_count"])
    rows["nan_count"].append(p["nan_count"])
    if compact_vc:
        rows["vc_vals"].append(
            p["vc_vals"].astype(np.float32, copy=False).tobytes()
        )
        rows["vc_cnts"].append(
            b"" if p.get("vc_ones")
            else p["vc_cnts"].astype(np.int32, copy=False).tobytes()
        )
    else:
        rows["vc_vals"].append(p["vc_vals"])
        rows["vc_cnts"].append(p["vc_cnts"])


# ---------------------------------------------------------------------------
# stage 3 — merges
# ---------------------------------------------------------------------------


def _merged_schema(
    pctiles: list[str], want_vc: bool, with_band: bool = False,
    user_cols: tuple = (),
) -> T.StructType:
    """Finalized-merge schema: the partial row's keys and scalar states,
    then the holistic stats in place of the value-count arrays."""
    fields = [
        f for f in _partial_schema(with_band=with_band).fields
        if f.name not in ("vc_vals", "vc_cnts")
    ]
    fields += [
        T.StructField("median", T.DoubleType()),
        T.StructField("majority", T.DoubleType()),
        T.StructField("minority", T.DoubleType()),
        T.StructField("unique", T.LongType()),
    ]
    fields += [T.StructField(p, T.DoubleType()) for p in pctiles]
    if want_vc:
        fields.append(
            T.StructField("value_counts", T.MapType(T.DoubleType(), T.LongType()))
        )
    # user stats stay u_-prefixed until the final projection so names can
    # never collide with internal state columns (sum, sumsq, ...)
    fields += [T.StructField(f"u_{n}", T.DoubleType()) for n in user_cols]
    return T.StructType(fields)


def _row_vc(v, c):
    """One partial's (values, counts) in float64/int64, whatever the wire
    format: double/long arrays (default), float32/int32 binary blobs
    (compact), and empty counts meaning "one each" (all-distinct blocks)."""
    if isinstance(v, (bytes, bytearray)):
        vals = np.frombuffer(v, dtype=np.float32).astype(np.float64)
    else:
        vals = np.asarray(v, dtype=np.float64)
    if c is None or len(c) == 0:
        cnts = np.ones(vals.size, dtype=np.int64)
    elif isinstance(c, (bytes, bytearray)):
        cnts = np.frombuffer(c, dtype=np.int32).astype(np.int64)
    else:
        cnts = np.asarray(c, dtype=np.int64)
    return vals, cnts


def _merge_vc_arrays(vlist, clist):
    """Merge per-partial (vals, cnts) sequences into one sorted unique
    (values, counts) pair. Two fast paths for the dominant wire shapes:
    compact float32 blobs concatenate as ONE buffer (a single frombuffer +
    astype instead of one per partial), and when every partial's counts
    are implicit ones (all-distinct blocks — the continuous-raster case)
    the merged counts are just np.unique's return_counts, skipping the
    big ones array and the scatter-add. Identical values either way."""
    if all(isinstance(v, (bytes, bytearray)) for v in vlist):
        # unique in the float32 domain (float32→float64 is injective and
        # order-preserving, so the grouping is identical) — the sort runs
        # over half the bytes; only the much smaller unique array is
        # widened to float64 for the downstream percentile math
        vals = np.frombuffer(b"".join(vlist), dtype=np.float32)
    else:
        vals = np.concatenate(
            [_row_vc(v, None)[0] for v in vlist] or [np.empty(0)]
        )
    if all(c is None or len(c) == 0 for c in clist):
        u, cnt = np.unique(vals, return_counts=True)
        return u.astype(np.float64), cnt.astype(np.int64, copy=False)
    cnts = np.concatenate(
        [_row_vc(v, c)[1] for v, c in zip(vlist, clist)]
        or [np.empty(0, dtype=np.int64)]
    )
    u, inv = np.unique(vals, return_inverse=True)
    merged = np.zeros(len(u), dtype=np.int64)
    np.add.at(merged, inv, cnts)
    return u.astype(np.float64), merged


def fold_partials(
    pdf: pd.DataFrame,
    keys,
    *,
    finalize: bool,
    pctiles=(),
    want_vc: bool = False,
    user_merges: dict | None = None,
    recompress_px: int | None = None,
) -> pd.DataFrame:
    """THE partial-rows fold (A1-A15): merge a non-empty pandas frame of
    partial rows, holding any number of groups, by ``keys``.

    ``finalize=False`` returns one merged partial-state row per group
    (_partial_schema, array wire format); ``recompress_px`` re-sketches
    each merged value multiset (kernel.sketch_weighted). The fold is
    associative, so this serves the salted pre-merge and the incremental
    state fold. ``finalize=True`` returns one _merged_schema row per
    group: the scalar states, the holistic stats of the merged (value,
    count) pairs and the finalized user stats. ``user_merges`` maps stat
    name → (merge_fn, finalize_fn), see merged_stats.

    Groups come from pd.factorize and one stable argsort; each scalar
    state folds with one ufunc.reduceat over the sorted rows. No pandas
    groupby: its fixed per-call cost would be paid by every call. Python
    loops per group only for the value-count and user-state merges."""
    user_merges = user_merges or {}
    codes = 0
    for k in keys:
        c, u = pd.factorize(pdf[k].to_numpy(), use_na_sentinel=False)
        codes = codes * len(u) + c
    order = np.argsort(codes, kind="stable")
    sc = codes[order]
    starts = np.flatnonzero(np.concatenate(([True], sc[1:] != sc[:-1])))

    def rows(name, dtype=None, **na):
        return pdf[name].to_numpy(dtype, **na)[order]

    def summed(name, dtype):
        return np.add.reduceat(rows(name, dtype), starts)

    out = {k: pdf[k].to_numpy()[order[starts]] for k in keys}
    out["count"] = summed("count", np.int64)
    out["sum"] = summed("sum", np.float64)
    # int64 total, null unless some partial carries one (integer raster);
    # object dtype keeps it exact past 2^53
    si = rows("sum_i")
    has_i = ~pd.isna(si)
    sum_i = np.add.reduceat(np.where(has_i, si, 0).astype(np.int64), starts)
    out["sum_i"] = np.where(
        np.logical_or.reduceat(has_i, starts), sum_i.astype(object), None
    )
    out["sumsq"] = summed("sumsq", np.float64)
    # NaN min/max (→ null) = no valid pixel in any partial of the group
    out["min"] = np.fmin.reduceat(rows("min", np.float64, na_value=np.nan), starts)
    out["max"] = np.fmax.reduceat(rows("max", np.float64, na_value=np.nan), starts)
    out["nodata_count"] = summed("nodata_count", np.int64)
    out["nan_count"] = summed("nan_count", np.int64)

    quantiles = [("median", 50.0)] + [(p, K.get_percentile(p)) for p in pctiles]
    holistic = (["median", "majority", "minority", "unique"] + list(pctiles)
                + (["value_counts"] if want_vc else []))
    for c in (holistic if finalize else ["vc_vals", "vc_cnts"]):
        out[c] = []
    vvals, vcnts = rows("vc_vals"), rows("vc_cnts")
    ustates = {u: rows(f"u_{u}") for u in user_merges}
    for u in user_merges:
        out[f"u_{u}"] = []
    for a, b in zip(starts, np.append(starts[1:], len(order))):
        vals, cnts = _merge_vc_arrays(vvals[a:b], vcnts[a:b])
        if not finalize:
            if recompress_px:
                vals, cnts = K.sketch_weighted(vals, cnts, recompress_px)
            out["vc_vals"].append(vals)
            out["vc_cnts"].append(cnts)
        elif vals.size:
            for name, q in quantiles:
                out[name].append(K.weighted_percentile(vals, cnts, q))
            out["majority"].append(float(vals[int(np.argmax(cnts))]))
            out["minority"].append(float(vals[int(np.argmin(cnts))]))
            out["unique"].append(int(vals.size))
            if want_vc:
                out["value_counts"].append(dict(zip(vals.tolist(), cnts.tolist())))
        else:
            for name in holistic:
                out[name].append(None)
        for u, (mfn, ffn) in user_merges.items():
            states = np.asarray(
                [np.asarray(s, dtype=np.float64) for s in ustates[u][a:b]]
            )
            merged = np.asarray(mfn(states), dtype=np.float64).ravel()
            if finalize:
                v = ffn(merged)
                merged = None if v is None else float(v)
            out[f"u_{u}"].append(merged)
    return pd.DataFrame(out)


def fold_sorted_batches(batches, keys, **fold_kw) -> Iterator[pd.DataFrame]:
    """fold_partials over frames sorted by ``keys`` (non-null) where a key
    group may span any number of frames: each frame's complete groups fold
    as it arrives; its trailing group is held until a frame starts a new
    key or the stream ends. Python memory: one frame + the largest group."""
    held = []  # frames of one key group, the last one seen
    for pdf in batches:
        if not len(pdf):
            continue
        # rows from ``cut`` on share the frame's last key
        other = np.flatnonzero(np.logical_or.reduce(
            [pdf[k].to_numpy() != pdf[k].iat[-1] for k in keys]
        ))
        cut = int(other[-1]) + 1 if other.size else 0
        if cut or (held and any(pdf[k].iat[0] != held[-1][k].iat[-1] for k in keys)):
            done = [*held, pdf.iloc[:cut]] if cut else held
            yield fold_partials(pd.concat(done, ignore_index=True), keys, **fold_kw)
            held = []
        held.append(pdf.iloc[cut:])
    if held:
        yield fold_partials(pd.concat(held, ignore_index=True), keys, **fold_kw)


def merged_stats(
    partials: DataFrame,
    pctiles=(),
    want_vc: bool = False,
    *,
    salt: int | None = None,
    recompress_px: int | None = None,
    keys: tuple = ("zone_id",),
    user_merges: dict | None = None,
    finalize: bool = True,
) -> DataFrame:
    """Scalar AND holistic merges in ONE zone-keyed plan (A1-A15). ``keys``
    extends the grouping (e.g. ("zone_id", "band") for the multiband
    one-pass path). ``finalize=False`` returns merged partial-state rows.

    ``user_merges`` maps stat name → (merge_fn, finalize_fn): merge_fn
    folds the stacked per-partial state vectors (k×len float64 ndarray)
    into one state, finalize_fn turns the merged state into the output
    scalar — the merge half of the scalable add_stats protocol. merge_fn
    must be associative (it also runs in the salted pre-merge).

    Every stage has ONE shape, in both regimes: repartition(keys) +
    sortWithinPartitions (the JVM sort spills) + mapInPandas through
    fold_sorted_batches, so Python holds one Arrow batch plus the stage's
    largest group. The partial kernel upstream is evaluated once.

    ``salt`` adds a pre-merge keyed by (keys, _salt), _salt = upstream
    partition id mod ``salt``: duplicate values collapse early, and the
    final merge sees ≤ min(salt, kernel tasks) rows per zone (the
    broadcast-regime kernel is coalesced to _kernel_tasks).
    ``recompress_px`` also re-sketches each pre-merged array to that many
    points (continuous rasters, whose value domain has no duplicates to
    collapse — kernel.sketch_weighted keeps count/min/max exact, quantile
    rank error ≤ n/recompress_px).
    """
    user_merges = user_merges or {}
    band, user_cols = "band" in keys, tuple(user_merges)
    state_schema = _partial_schema(False, with_band=band, user_cols=user_cols)
    fold_kw = dict(pctiles=pctiles, want_vc=want_vc, user_merges=user_merges)

    def fold(df, by, schema, **kw):
        gen = functools.partial(fold_sorted_batches, keys=by, **fold_kw, **kw)
        cols = [F.col(k) for k in by]
        return df.repartition(*cols).sortWithinPartitions(*cols).mapInPandas(
            gen, schema
        )

    if salt:
        salted = partials.withColumn(
            "_salt", F.pmod(F.spark_partition_id(), F.lit(salt))
        )
        partials = fold(
            salted, (*keys, "_salt"),
            T.StructType([*state_schema, T.StructField("_salt", T.IntegerType())]),
            finalize=False, recompress_px=recompress_px,
        ).drop("_salt")
    schema = _merged_schema(
        pctiles, want_vc, with_band=band, user_cols=user_cols
    ) if finalize else state_schema
    return fold(partials, keys, schema, finalize=finalize)


def zonal_result(
    partials: DataFrame,
    base: DataFrame,
    stats: list,
    *,
    categorical: bool = False,
    keys: tuple = ("zone_id",),
    user_merges: dict | None = None,
    salt: int | None = None,
    recompress_px: int | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Partial rows → the output stats: merge, join-back to ``base`` (one
    row per zone, or zone × band; J2) and the projection with empty-zone
    semantics (A17: count 0, other stats null). The ONE tail of
    zonal_stats_df, the checkpointed jobs (plans/lineage.py) and the
    incremental state (streaming/incremental.py).

    ``stats`` is a check_stats-validated list. Scalar-only requests merge
    with a JVM groupBy.agg (whole-stage codegen, map-side combine); any
    holistic, categorical or user stat takes merged_stats (``salt``,
    ``recompress_px``), the same sorted streaming fold in both regimes.
    With ``broadcast`` the ≤1-row-per-zone merged side is broadcast into
    the join-back, keeping the broadcast regime SMJ-free.

    The scalar aggregation and the projection are SQL text (F.expr, one
    selectExpr; _result_exprs): under PySpark 4 every Column-API call is
    a py4j round trip that also sets and clears the call-site origin,
    which made this tail hundreds of round trips per query."""
    user_merges = user_merges or {}
    pctiles = [s for s in stats if s.startswith("percentile_")]
    if categorical or user_merges or K.needs_counts(stats):
        # ONE zone-keyed merge for scalars + holistics (+ user states): the
        # partial kernel (decode + rasterize) is evaluated exactly once,
        # not once per consuming aggregation
        merged = merged_stats(
            partials, pctiles, categorical, salt=salt,
            recompress_px=recompress_px, keys=keys, user_merges=user_merges,
        )
    else:
        merged = partials.groupBy(*keys).agg(*(
            F.expr(f"{fn}({_q(c)}) AS {_q(c)}") for fn, c in _SCALAR_MERGE
        ))
    result = base.join(
        F.broadcast(merged) if broadcast else merged, list(keys), "left"
    )
    return result.selectExpr(*_result_exprs(stats, keys, categorical, user_merges))


def _q(name: str) -> str:
    """A backtick-quoted SQL identifier: percentile names contain a dot
    (percentile_12.5, valid per reference utils.py:21-30) and user stat
    names are arbitrary."""
    return "`" + name.replace("`", "``") + "`"


_SCALAR_MERGE = (
    ("sum", "count"), ("sum", "sum"), ("sum", "sum_i"), ("sum", "sumsq"),
    ("min", "min"), ("max", "max"), ("sum", "nodata_count"),
    ("sum", "nan_count"),
)


def _result_exprs(stats, keys, categorical: bool, user_merges) -> list:
    """zonal_result's A17 projection as SQL expression strings."""
    cnt = "coalesce(`count`, 0)"

    def nonempty(expr: str) -> str:
        return f"CASE WHEN {cnt} > 0 THEN {expr} END"

    # int rasters: the int64-accumulated total (sum_i) feeds sum/mean,
    # matching reference float(masked.sum(dtype='int64')) (main.py:262-267);
    # std keeps the float64 moments (reference masked.std() has no
    # accum_dtype, main.py:268-269)
    total = "coalesce(CAST(`sum_i` AS DOUBLE), `sum`)"
    fmean = f"(`sum` / {cnt})"
    scalar = {
        "count": cnt,
        "mean": nonempty(f"{total} / {cnt}"),
        # population std from merged moments (A6; ddof=0, main.py:268-269)
        "std": nonempty(
            f"sqrt(greatest(`sumsq` / {cnt} - {fmean} * {fmean}, 0.0D))"
        ),
        "range": nonempty("`max` - `min`"),
        "sum": nonempty(total),
        "min": nonempty("`min`"),
        "max": nonempty("`max`"),
        "nodata": "CAST(coalesce(`nodata_count`, 0) AS DOUBLE)",
        "nan": "CAST(coalesce(`nan_count`, 0) AS DOUBLE)",
    }
    exprs = [_q(k) for k in keys]
    for s in stats:
        if s in scalar:
            exprs.append(f"{scalar[s]} AS {_q(s)}")
        elif s in ("median", "majority", "minority", "unique") or s.startswith(
            "percentile_"
        ):
            exprs.append(f"{nonempty(_q(s))} AS {_q(s)}")
    if categorical:
        exprs.append(f"{nonempty('`value_counts`')} AS `value_counts`")
    exprs += [f"{_q('u_' + u)} AS {_q(u)}" for u in user_merges]
    return exprs

# ---------------------------------------------------------------------------
# the operator
# ---------------------------------------------------------------------------


def _band_base(base: DataFrame, bands) -> DataFrame:
    """Join-back base: one row per zone (or per zone × requested band)."""
    if bands is None:
        return base
    bdf = local_frame(
        base.sparkSession, pd.DataFrame({"band": [int(b) for b in bands]}),
        "band int",
    )
    return base.crossJoin(F.broadcast(bdf))


def zonal_stats_df(
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
    broadcast_zones: bool = True,
    max_cells_per_zone: int = 4_000_000,
    holistic_salt: int | None = None,
    holistic_mode: str = "auto",
    auto_px_per_zone: int = 8 << 20,
    sketch_px: int = 1024,
    meta: dict | None = None,
    band: int = 1,
    bands: list | None = None,
    add_stats: dict | None = None,
    prune_tiles: bool = True,
    hybrid_wkb_bytes: int | None = 16 << 20,
    quadkey_level: int = 16,
) -> DataFrame:
    """Zonal statistics of the tile corpus aggregated to zone geometries.

    ``add_stats`` here is the SCALABLE user-stat protocol (SURVEY §2.4
    A18): ``{name: (partial_fn, merge_fn, finalize_fn)}``. partial_fn sees
    each (zone, tile) partial's masked array and returns a fixed-length
    float state vector; merge_fn folds stacked states associatively;
    finalize_fn produces the output scalar. Unlike the gather tier
    (operators/gather.py, which accepts plain callables but mosaics each
    zone into ONE task), this path keeps user stats fully distributed —
    the right surface for decomposable statistics at 100-TB scale.

    Parameters mirror gen_zonal_stats (reference main.py:57-156) where they
    exist; distribution knobs are new. ``zones`` needs (zone_id,
    geometry_wkb[, dataset]); ``tiles``/``datasets`` follow the corpus
    schema (fixtures.py). Returns one row per zone_id with requested stat
    columns (empty zones: count=0, others null — main.py:230-234).

    The plan is tile-driven (see the module docstring): one partial
    kernel over the tile scan, each payload crossing Arrow once.
    ``broadcast_zones=True`` (the right regime whenever the zone working
    set fits executor memory) collects the zone dim, derives each tile's
    covering zones on the driver and broadcasts them as a dict; the tile
    scan is pruned to the zones' working set (``prune_tiles``) and never
    shuffled. Boundless nodata/nan counts add one NULL-payload row per
    covering tile key with no stored tile. Driver-detected errors
    (beyond-extent with ``boundless=False``, ``max_cells_per_zone``,
    unknown dataset) still raise when the action runs. With huge zone sets
    pass False: cover cells are generated on the executors, grouped per
    tile key and sort-merge joined to the tiles; there,
    ``hybrid_wkb_bytes`` bounds per-cell WKB duplication by broadcasting
    the geometries of zones whose wkb×cells product exceeds it (the few
    continent polygons), so shuffle bytes scale with zone count + small
    WKBs, never WKB×cells. ``None`` disables the sizing pass.

    ``bands=[1, 2, ...]`` computes stats for SEVERAL bands in one pass —
    each payload decoded once, each zone rasterized once per covering tile,
    output long format with a ``band`` column (one row per zone × band).

    ``quadkey_level`` must match the level the tile corpus's quadkey
    column was written with (sources/tables.with_quadkey default 16) —
    pruning ranges are computed over that Morton code space. A grid too
    wide for the level is detected and that dataset's scan simply goes
    unpruned (never wrongly pruned).

    ``holistic_mode`` (median/percentiles/majority/minority/unique/
    value_counts execution): ``'auto'`` (default) picks the plan from the
    per-zone size estimate the regime already has (the collected zone dim,
    or the SMJ sizing pass) — zones up to ``auto_px_per_zone`` bbox pixels
    run the EXACT merge (bit-equal to the reference; every parity corpus),
    larger zones pick the deterministic quantile sketch when only
    quantiles are wanted on a continuous float raster, else a salted
    two-stage exact merge (see auto_holistic_plan). ``'exact'`` forces the
    exact merge at any size, ``'sketch'`` forces the bounded summary
    (quantiles only).
    """
    stats, run_count = K.check_stats(stats, categorical)
    want_holistic = run_count or K.needs_counts(stats)
    add_stats = add_stats or {}
    for uname, triple in add_stats.items():
        if not (isinstance(triple, (tuple, list)) and len(triple) == 3
                and all(callable(f) for f in triple)):
            raise ValueError(
                f"add_stats[{uname!r}] must be a (partial_fn, merge_fn, "
                "finalize_fn) triple here — plain callables take the "
                "gather tier (zonal_gather_df / gen_zonal_stats)"
            )
        if uname in K.VALID_STATS or uname in stats:
            raise ValueError(f"add_stats name {uname!r} shadows a builtin stat")
    if add_stats and bands is not None:
        raise ValueError("bands and add_stats cannot be combined")
    need_missing = boundless and ("nodata" in stats or "nan" in stats)
    # sketch eligibility: majority/minority/unique/value_counts need the
    # EXACT value domain; median/percentiles alone can run on the bounded
    # quantile summary (the 100×-scale path for continuous float rasters)
    want_exact_domain = run_count
    if holistic_mode not in ("exact", "auto", "sketch"):
        raise ValueError("holistic_mode must be 'exact', 'auto' or 'sketch'")
    if holistic_mode == "sketch" and want_exact_domain:
        raise ValueError(
            "holistic_mode='sketch' cannot compute majority/minority/unique/"
            "value_counts — those stats need the exact value domain"
        )
    # 'auto' (the default) defers the exact/sketch/salt choice until the
    # per-zone size estimate is available below — parity-small corpora
    # stay EXACT, planetary zones pick the scale plan with no knob
    auto_holistic = holistic_mode == "auto" and want_holistic

    meta = meta if meta is not None else collect_dataset_meta(datasets)
    if dataset is not None:
        if dataset not in meta:
            raise ValueError(
                f"dataset {dataset!r} not in datasets table "
                f"(have: {sorted(meta)})"
            )
        for b in (bands if bands is not None else [band]):
            if b > meta[dataset].get("band_count", 1) or b < 1:
                raise ValueError(
                    f"band {b} out of range for dataset {dataset!r} "
                    f"(band_count={meta[dataset].get('band_count', 1)})"
                )
        zones = zones.withColumn("dataset", F.lit(dataset))

    # broadcast regime: cells are KEY-ONLY (4 small columns) and geometry
    # ships once per zone via a broadcast dict — never once per covering
    # tile (the r2 verdict's 100×-scale memory risk). SMJ regime: the WKB
    # rides the cells through the tile-key shuffle instead (one copy per
    # cell through ONE exchange, vs a second payload-bearing shuffle to
    # re-attach it by zone) — EXCEPT the few zones whose wkb_bytes×ncells
    # duplication exceeds hybrid_wkb_bytes (an MB-scale continent polygon
    # over 10⁴-10⁶ tiles would push GB-TB through that exchange): those
    # ship once per executor via a small broadcast dict and their cells
    # carry NULL (the hybrid regime; None disables the sizing pass).
    big_keys: frozenset = frozenset()
    geoms_bc = None
    est_px = 0  # auto-holistic size estimate (filled per regime below)
    base = zones.select("zone_id")  # join-back base (J2)
    if broadcast_zones:
        # the zone dim is read ONCE per query, here: the join-back base is
        # rebuilt from the same rows (every input row, duplicates and the
        # input's zone_id type kept) as a LocalTableScan
        spark = zones.sparkSession
        geoms, zone_ids = collect_zone_rows(zones)
        geoms_bc = spark.sparkContext.broadcast(geoms)
        base = local_frame(
            spark, pd.DataFrame({"zone_id": pd.Series(zone_ids, dtype=object)}),
            base.schema,
        )
        if auto_holistic:
            est_px = _max_zone_px(geoms_bc.value, meta)
    elif hybrid_wkb_bytes is not None or prune_tiles or auto_holistic:
        # SMJ regime: ONE distributed sizing pass over the zone table,
        # summarized by ONE aggregation job that serves all three
        # consumers — hybrid-WKB decision, (collect-free) scan fence AND
        # the auto-holistic size estimate (three separate collects in
        # earlier rounds). The tiny sizing table (8 narrow columns/zone)
        # is persisted only when the hybrid per-zone top-cost query may
        # actually need a second read, which the summary's max-cost bound
        # decides — so the zones table is still scanned exactly once
        # (asserted in tests/test_r5_fixes.py via the sizing accumulator)
        counts = zone_cell_counts(zones, meta, clip_to_grid=not need_missing)
        if hybrid_wkb_bytes is not None:
            counts = counts.persist()
        try:
            pred, est, max_cost = smj_sizing_summary(counts, meta)
            if prune_tiles and pred is not None:
                tiles = tiles.filter(pred)
            if auto_holistic:
                est_px = est
            if hybrid_wkb_bytes is not None and max_cost > hybrid_wkb_bytes:
                geoms_bc, big_keys = hybrid_big_zone_geoms(
                    zones, meta, clip_to_grid=not need_missing,
                    threshold_bytes=hybrid_wkb_bytes, counts=counts,
                )
        finally:
            if hybrid_wkb_bytes is not None:
                counts.unpersist()
    # float rasters: no duplicate values for a merge to collapse
    continuous = auto_holistic and all(
        np.issubdtype(np.dtype(meta[d].get("dtype", "float64")), np.floating)
        for d in (
            [dataset] if dataset is not None
            else {ds for _, ds in geoms_bc.value} if broadcast_zones
            else meta
        )
        if d in meta
    )
    kernel_sketch_px, salt, recompress_px = holistic_plan(
        holistic_mode, want_holistic=want_holistic,
        want_exact_domain=want_exact_domain, est_px=est_px,
        continuous=continuous, threshold_px=auto_px_per_zone,
        salt=holistic_salt, sketch_px=sketch_px,
    )
    if broadcast_zones:
        if prune_tiles:
            # scan-level pruning: the zone dim is already on the driver,
            # so a per-zone tile-key range predicate costs nothing to
            # build and reaches the parquet scan as PushedFilters — the
            # tile table reads only the zones' working set, not the whole
            # corpus. Corpora that carry a quadkey column (with_quadkey;
            # sorted storage) get 1-D quadkey range sets, which align
            # with row groups/files.
            pred = tile_prune_filter(
                geoms_bc.value, meta,
                quadkey_col="quadkey" if "quadkey" in tiles.columns else None,
                quadkey_level=quadkey_level,
                prefix_col=(
                    "qk_prefix" if "qk_prefix" in tiles.columns else None
                ),
            )
            if pred is not None:
                tiles = tiles.filter(pred)
        # the zone dim is on the driver already, so each tile's covering
        # zones are derived THERE and broadcast as a dict — no cells stage,
        # no join, each tile payload crosses Arrow once (guide §8: decide
        # with small rows, move big rows once)
        cover = broadcast_cover_cells(
            spark, geoms_bc.value, meta,
            clip_to_grid=not need_missing,
            max_cells_per_zone=max_cells_per_zone,
            raise_beyond_extent=not boundless,
        )
        kernel_in, cover = tile_driven_input(
            tiles, cover, meta, fill_missing=need_missing
        )
    else:
        # SMJ regime (zone set too large to broadcast): the cover cells
        # are grouped per tile key before the join (group_cover_cells), so
        # the tile payload crosses the Python boundary once per tile.
        # Absent tiles arrive as NULL payloads via the left join (J4).
        cover = None
        keys = list(_TILE_COLS[:3])
        cells = zone_cover_cells(
            zones, meta, clip_to_grid=not need_missing,
            max_cells_per_zone=max_cells_per_zone,
            raise_beyond_extent=not boundless,
            with_geometry=True,
            null_wkb_keys=big_keys,
        )
        kernel_in = group_cover_cells(cells, keys).join(
            tiles.select(*_TILE_COLS), keys,
            "left" if need_missing else "inner",
        )

    refd = [dataset] if dataset is not None else list(meta)
    # compact only when values are guaranteed float32-representable: raw
    # float32 pixels, no user transform (zone_func output is float64)
    compact = (
        want_holistic
        and zone_func is None
        and all(meta[d].get("dtype") == "float32" for d in refd)
    )
    partials = partial_kernel(
        kernel_in, meta,
        cover=cover,
        all_touched=all_touched,
        nodata_override=nodata,
        want_counts=want_holistic,
        zone_func=zone_func,
        band=band,
        sketch_px=kernel_sketch_px,
        compact_vc=compact,
        bands=bands,
        geoms=geoms_bc,
        user_partials={n: t[0] for n, t in add_stats.items()},
    )
    return zonal_result(
        partials, _band_base(base, bands), stats, categorical=categorical,
        keys=("zone_id",) if bands is None else ("zone_id", "band"),
        user_merges={n: (t[1], t[2]) for n, t in add_stats.items()},
        salt=salt, recompress_px=recompress_px, broadcast=broadcast_zones,
    )
