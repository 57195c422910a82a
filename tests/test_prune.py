"""Per-zone scan pruning: the one scan fence (operators/zonal.
storage_fence) and its two forms.

The r3 predicate pushed ONE union bbox per dataset — for sparse scattered
zones (two corners of a planet-sized corpus) that degenerates to "scan
everything". These tests pin the fence that replaced it:

- over a quadkey column a sparse working set goes as its exact tile-key
  set, every other case as per-zone tile_col/tile_row rects; on
  quadkey-sorted storage both admit >10× fewer row groups than the union
  bbox (pyarrow analysis of the actual parquet file Spark reads),
- the predicate reaches the parquet scan (PushedFilters), and over
  quad-prefix partitioned storage it prunes directories (PartitionFilters)
  in both regimes, for zonal, crosstab and point,
- results are bit-identical with pruning on, off, and in both forms,
- a grid wider than 65,536 tiles gets its exact key set, as a narrow one
  does (the stored code takes every bit of the tile indices),
- a fresh sparse zone set compiles no new class, and the executed scan
  skips row groups per key through the writer's quadkey bloom filter.
"""

import os
import re

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.operators.point import point_query_df
from python_rasterstats_spark.operators.zonal import (
    _coalesce_rects,
    _zone_tile_rects,
    collect_dataset_meta,
    rects_prune_filter,
    storage_fence,
    zonal_stats_df,
    zone_windows,
)
from python_rasterstats_spark.plans.explain import scan_output_rows
from python_rasterstats_spark.sources.tables import (
    dataset_prefix_shifts,
    features_to_zones,
    raster_to_tables,
    with_quadkey,
)
from tools.audit_prune_bytes import (
    admit_bytes,
    key_admit_bytes,
    pred_keys,
    pred_rects,
    rect_admit,
)

def _codes(tc0, tc1, tr0, tr1):
    return {
        K.quadkey(c, r)
        for c in range(tc0, tc1 + 1)
        for r in range(tr0, tr1 + 1)
    }


def _key_set(pred: str) -> set:
    return set(pred_keys(pred) or ())


def _pred_prefixes(pred: str) -> list:
    m = re.search(r"qk_prefix IN \(([^)]*)\)", pred)
    return [int(p) for p in m.group(1).split(",")] if m else []


def test_coalesce_rects_caps_and_stays_superset():
    rects = [(i * 4, i * 4 + 1, i * 4, i * 4 + 1) for i in range(16)]
    out = _coalesce_rects(rects, 4)
    assert len(out) <= 4
    for tc0, tc1, tr0, tr1 in rects:
        assert any(
            o[0] <= tc0 and tc1 <= o[1] and o[2] <= tr0 and tr1 <= o[3]
            for o in out
        )
    # containment drop: nested rect disappears without a cap
    assert _coalesce_rects([(0, 9, 0, 9), (2, 3, 2, 3)], 64) == [(0, 9, 0, 9)]


@pytest.fixture(scope="module")
def sparse_corpus(spark, tmp_path_factory):
    """64×64-tile corpus (4096 tiles), quadkey-sorted parquet with 64 row
    groups, plus two small zones in OPPOSITE corners (18/4096 tiles —
    <0.5% of the corpus; their union bbox is the whole grid)."""
    rng = np.random.default_rng(11)
    arr = rng.uniform(0, 100, size=(1024, 1024)).astype(np.float32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 1024.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="sparse", nodata=-9999.0, tile=16
    )
    root = tmp_path_factory.mktemp("sparse")
    plain = os.path.join(root, "tiles_plain.parquet")
    tiles.toPandas().to_parquet(plain)
    # quadkey-sorted single file with many row groups → row-group-level
    # min-max stats are the skipping granularity Spark's reader uses
    sorted_pdf = (
        with_quadkey(tiles).orderBy("quadkey").toPandas()
    )
    qk_path = os.path.join(root, "tiles_qk.parquet")
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(sorted_pdf, preserve_index=False),
        qk_path,
        row_group_size=64,
    )
    # y is flipped (row 0 at top): zone A top-left px (5..35)², zone B
    # bottom-right px (988..1018)² → tiles (0..2)² and (61..63)²
    wkt_a = "POLYGON ((5 989, 35 989, 35 1019, 5 1019, 5 989))"
    wkt_b = "POLYGON ((988 5, 1018 5, 1018 35, 988 35, 988 5))"
    zones = features_to_zones(spark, [wkt_a, wkt_b], dataset="sparse")
    return {
        "plain": plain,
        "qk": qk_path,
        "zones": zones,
        "datasets": datasets,
    }


def _collect_sorted(df):
    return sorted(map(tuple, df.collect()))


def test_sparse_zone_pruning_matches_unpruned(spark, sparse_corpus):
    c = sparse_corpus
    stats = ["count", "min", "max", "mean", "median"]
    want = _collect_sorted(
        zonal_stats_df(
            c["zones"], spark.read.parquet(c["plain"]), c["datasets"],
            dataset="sparse", stats=stats, prune_tiles=False,
        )
    )
    got_rect = _collect_sorted(
        zonal_stats_df(
            c["zones"], spark.read.parquet(c["plain"]), c["datasets"],
            dataset="sparse", stats=stats,
        )
    )
    got_qk = _collect_sorted(
        zonal_stats_df(
            c["zones"], spark.read.parquet(c["qk"]), c["datasets"],
            dataset="sparse", stats=stats,
        )
    )
    assert want == got_rect == got_qk
    assert want[0][1] > 0  # non-degenerate


def test_point_query_quadkey_pruning_matches_unpruned(spark, sparse_corpus):
    c = sparse_corpus
    want = _collect_sorted(
        point_query_df(
            c["zones"], spark.read.parquet(c["plain"]), c["datasets"],
            dataset="sparse", interpolate="bilinear", prune_tiles=False,
        )
    )
    got = _collect_sorted(
        point_query_df(
            c["zones"], spark.read.parquet(c["qk"]), c["datasets"],
            dataset="sparse", interpolate="bilinear",
        )
    )
    assert want == got and len(want) > 0


def _zone_geom_dict(zones):
    return {
        (r["zone_id"], r["dataset"]): bytes(r["geometry_wkb"])
        for r in zones.select("zone_id", "dataset", "geometry_wkb").collect()
    }


def test_quadkey_predicate_reaches_parquet_scan(spark, sparse_corpus):
    from python_rasterstats_spark.operators.zonal import collect_dataset_meta

    c = sparse_corpus
    meta = collect_dataset_meta(c["datasets"])
    rects = _zone_tile_rects(zone_windows(_zone_geom_dict(c["zones"]), meta), meta)
    plan = (
        storage_fence(spark.read.parquet(c["qk"]), rects, meta)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "quadkey" in plan


def test_rowgroup_pruning_evidence_10x(spark, sparse_corpus):
    """On the quadkey-sorted file, each of the fence's two forms admits
    >10× fewer row groups than the union bbox predicate (which spans the
    whole grid here → admits ALL): the key set by the groups holding one
    of its keys (what the column's dictionary or bloom filter admits; its
    min and max span the grid), the rects by tile_col/tile_row min-max
    stats (a sorted group is a compact Morton block)."""
    c = sparse_corpus
    meta = collect_dataset_meta(c["datasets"])
    rects = _zone_tile_rects(zone_windows(_zone_geom_dict(c["zones"]), meta), meta)
    keys = _key_set(rects_prune_filter(rects, meta, ["quadkey"]))
    pushed_rects = pred_rects(rects_prune_filter(rects, meta))
    assert len(keys) == 18 and len(pushed_rects) == 2

    rg_keys, groups, _ = key_admit_bytes(c["qk"], keys)
    rg_rects, _, _ = admit_bytes(c["qk"], rect_admit(pushed_rects))
    rg_bbox, _, _ = admit_bytes(c["qk"], rect_admit([(0, 63, 0, 63)]))
    assert groups >= 32
    assert rg_bbox == groups  # union bbox scans the planet
    assert 1 <= rg_keys and rg_keys * 10 <= rg_bbox
    assert 1 <= rg_rects and rg_rects * 10 <= rg_bbox


def test_fence_admits_every_cover_cell(spark, sparse_corpus):
    """Superset safety: every (tile_col, tile_row) cover cell of every
    zone is admitted by the pushed quadkey constraint — its key set — and
    by the rect form (a pruned stored tile would silently become
    boundless nodata fill)."""
    from python_rasterstats_spark.operators.zonal import zone_cover_cells

    c = sparse_corpus
    meta = collect_dataset_meta(c["datasets"])
    rects = _zone_tile_rects(zone_windows(_zone_geom_dict(c["zones"]), meta), meta)
    keys = _key_set(rects_prune_filter(rects, meta, ["quadkey"]))
    pushed_rects = pred_rects(rects_prune_filter(rects, meta))
    cells = zone_cover_cells(
        c["zones"], meta, clip_to_grid=True
    ).collect()
    assert len(cells) == 18
    for r in cells:
        tc, tr = r["tile_col"], r["tile_row"]
        assert K.quadkey(tc, tr) in keys
        assert any(a <= tc <= b and d <= tr <= e for a, b, d, e in pushed_rects)


def test_crosstab_quadkey_pruning_matches_plain(spark, corpus):
    """Crosstab auto-detects the quadkey column like zonal/point do; the
    per-zone range predicate is a superset filter, so results match."""
    from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df

    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    want = _collect_sorted(
        zonal_crosstab_df(
            polys, tiles, datasets,
            value_dataset="slope", class_dataset="slope_classes",
        )
    )
    got = _collect_sorted(
        zonal_crosstab_df(
            polys, with_quadkey(tiles), datasets,
            value_dataset="slope", class_dataset="slope_classes",
        )
    )
    assert want == got and len(want) > 0


def test_partitioned_quadkey_prunes_directories(spark, sparse_corpus, tmp_path):
    """write_quadkey_partitioned_tiles + the qk_prefix IN-list: Spark's
    partition pruning drops whole directories at listing time
    (PartitionFilters + reduced partition count), results unchanged."""
    from python_rasterstats_spark.sources.tables import (
        write_quadkey_partitioned_tiles,
    )

    c = sparse_corpus
    part_path = str(tmp_path / "tiles_part")
    write_quadkey_partitioned_tiles(
        spark.read.parquet(c["plain"]), c["datasets"], part_path
    )
    part_tiles = spark.read.parquet(part_path)
    assert "qk_prefix" in part_tiles.columns
    stats = ["count", "min", "max", "mean"]
    want = _collect_sorted(
        zonal_stats_df(
            c["zones"], spark.read.parquet(c["plain"]), c["datasets"],
            dataset="sparse", stats=stats, prune_tiles=False,
        )
    )
    out = zonal_stats_df(
        c["zones"], part_tiles, c["datasets"], dataset="sparse", stats=stats
    )
    got = _collect_sorted(out)
    assert want == got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "qk_prefix" in plan
    # directory-level evidence: the prefix IN-list the predicate pushed
    # covers only the 2 corner partitions out of the 64 written
    import os as _os

    ndirs = len([d for d in _os.listdir(part_path) if d.startswith("qk_prefix=")])
    assert ndirs >= 32  # the transform really spread the corpus
    meta = collect_dataset_meta(c["datasets"])
    rects = _zone_tile_rects(zone_windows(_zone_geom_dict(c["zones"]), meta), meta)
    prefixes = _pred_prefixes(
        rects_prune_filter(rects, meta, part_tiles.columns)
    )
    assert len(prefixes) == 2  # 2 corners -> their 2 directories


def _scan_filters(df) -> list:
    """``(partition filters, data filters)`` text of each payload scan of
    ``df``'s executed plan."""
    from python_rasterstats_spark.plans.explain import payload_scans

    return [
        (scan.partitionFilters().toString(), scan.dataFilters().toString())
        for scan in payload_scans(df)
    ]


@pytest.fixture(scope="module")
def partitioned_corpus(spark, corpus, tmp_path_factory):
    """The fixture tiles written by write_quadkey_partitioned_tiles."""
    from python_rasterstats_spark.sources.tables import (
        write_quadkey_partitioned_tiles,
    )

    tiles, _, datasets = corpus
    path = str(tmp_path_factory.mktemp("part") / "tiles")
    write_quadkey_partitioned_tiles(tiles, datasets, path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "smj"])
def test_crosstab_partitioned_prunes_both_scans(
    spark, corpus, partitioned_corpus, broadcast
):
    """Crosstab runs zonal's front half: over quad-prefix partitioned
    storage both payload scans (value and class raster) prune
    directories at listing time in either regime, and the rows equal
    those over the plain table."""
    from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df

    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    kw = dict(value_dataset="slope", class_dataset="slope_classes",
              broadcast_zones=broadcast)
    want = _collect_sorted(zonal_crosstab_df(polys, tiles, datasets, **kw))
    out = zonal_crosstab_df(polys, partitioned_corpus, datasets, **kw)
    assert _collect_sorted(out) == want and len(want) > 0
    filters = _scan_filters(out)
    assert len(filters) == 2, filters
    assert all("qk_prefix" in p and "quadkey" in d for p, d in filters), filters


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "smj"])
def test_zonal_and_point_partitioned_prune_scans(
    spark, corpus, partitioned_corpus, broadcast
):
    """Zonal and point fence their scan with one storage_fence in either
    regime: over quad-prefix partitioned storage the payload scan prunes
    directories (PartitionFilters on qk_prefix) and pushes the working
    set's exact quadkey set, as the broadcast regime does; rows equal
    those over the plain table."""
    from python_rasterstats_spark.operators.point import point_query_df

    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    runs = {
        "zonal": lambda t: zonal_stats_df(
            polys, t, datasets, dataset="slope", broadcast_zones=broadcast,
        ),
        "point": lambda t: point_query_df(
            polys, t, datasets, dataset="slope",
            broadcast_vertices=broadcast,
        ),
    }
    for name, run in runs.items():
        want = _collect_sorted(run(tiles))
        out = run(partitioned_corpus)
        assert _collect_sorted(out) == want and len(want) > 0, name
        filters = _scan_filters(out)
        assert filters and all(
            "qk_prefix" in p and re.search(r"quadkey#\d+L (INSET|IN \()", d)
            for p, d in filters
        ), (name, filters)


def test_multi_dataset_grids_get_independent_prefix_shifts(spark, tmp_path):
    """Two datasets with different grid sizes partition and prune with
    their OWN grid-adaptive shifts; results equal the unpruned run."""
    from python_rasterstats_spark.sources.tables import (
        dataset_prefix_shifts,
        write_quadkey_partitioned_tiles,
    )
    from python_rasterstats_spark.operators.zonal import collect_dataset_meta

    rng = np.random.default_rng(3)
    big = rng.uniform(0, 10, size=(512, 512)).astype(np.float32)
    small = rng.uniform(0, 10, size=(128, 128)).astype(np.float32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 512.0)
    aff_s = (1.0, 0.0, 0.0, 0.0, -1.0, 128.0)
    tb, db = raster_to_tables(spark, big, aff, dataset="big", tile=16)
    ts, ds_ = raster_to_tables(spark, small, aff_s, dataset="small", tile=16)
    tiles = tb.unionByName(ts)
    datasets = db.unionByName(ds_)
    shifts = dataset_prefix_shifts(collect_dataset_meta(datasets))
    assert shifts["big"] != shifts["small"]  # 32×32 vs 8×8 grids
    path = str(tmp_path / "multi_part")
    write_quadkey_partitioned_tiles(tiles, datasets, path)
    part = spark.read.parquet(path)
    zones_b = features_to_zones(
        spark, ["POLYGON ((5 475, 35 475, 35 505, 5 505, 5 475))"],
        dataset="big",
    )
    zones_s = features_to_zones(
        spark, ["POLYGON ((100 5, 120 5, 120 25, 100 25, 100 5))"],
        dataset="small",
    ).withColumn("zone_id", F.col("zone_id") + 100)
    zones = zones_b.unionByName(zones_s)
    want = _collect_sorted(
        zonal_stats_df(zones, tiles, datasets, prune_tiles=False)
    )
    got = _collect_sorted(zonal_stats_df(zones, part, datasets))
    assert want == got and len(want) == 2
    assert all(r[1] > 0 for r in want)


# a dataset grid wider than 2^16 tiles, where a 16-level Morton code
# would wrap (high bits dropped, distant tiles sharing codes)
WIDE = 70_004


def _wide_meta() -> dict:
    return {"wide": {
        "affine": (1.0, 0.0, 0.0, 0.0, -1.0, 64.0),
        "height": 64, "width": WIDE * 16,
        "tile_w": 16, "tile_h": 16, "nodata": -9999.0,
        "fmt": "npy", "band_count": 1, "dtype": "float32",
    }}


def test_wide_grid_goes_as_its_key_set(spark):
    """A zone at tile_col ~70,000 of a grid that wide goes as its exact
    key set, with the qk_prefix directories of those keys: the stored
    code takes every bit of the tile indices, so no width needs the rect
    fallback."""
    m = _wide_meta()
    box = (WIDE - 4, WIDE - 2, 1, 2)
    rects = _zone_tile_rects(
        zone_windows(_zone_geom_dict(_wide_boxes(spark, [box])), m), m
    )
    pred = rects_prune_filter(rects, m, ["quadkey", "qk_prefix"])
    keys = _codes(*box)
    assert "BETWEEN" not in pred and _key_set(pred) == keys
    shift = dataset_prefix_shifts(m)["wide"]
    assert _pred_prefixes(pred) == sorted({k >> shift for k in keys})


def test_wide_grid_layouts_push_the_key_set(spark, tmp_path):
    """Stored tiles at tile_col ≥ 65,536 of a grid that wide, plus their
    16-level aliases (tile_col − 65,536, where a 16-level code would put
    them), written by both quadkey layouts in 4-tile row groups: the
    fence pushes the zones' exact key set (and their qk_prefix
    directories on the partitioned table), the executed scan outputs no
    more rows than the keys, and the rows equal the unpruned run."""
    from python_rasterstats_spark.sources.tables import (
        write_quadkey_partitioned_tiles, write_quadkey_sorted_tiles,
    )

    rng = np.random.default_rng(12)
    arr = rng.uniform(0, 100, size=(64, 64)).astype(np.float32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 64.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="wide", nodata=-9999.0, tile=16
    )
    base = WIDE - 4  # 70,000: an aligned 4×4 block of stored tiles
    alias = base - (1 << 16)
    tiles = tiles.withColumn("tile_col", F.col("tile_col") + base).unionByName(
        tiles.withColumn("tile_col", F.col("tile_col") + alias)
    )
    datasets = datasets.withColumn("width", F.lit(WIDE * 16))
    meta = collect_dataset_meta(datasets)
    assert meta == _wide_meta()
    # 2×2 Morton blocks, one row group each: one at the far end, one on
    # its 16-level alias
    boxes = [(base, base + 1, 0, 1), (alias, alias + 1, 2, 3)]
    zones = _wide_boxes(spark, boxes)
    want_keys = _codes(*boxes[0]) | _codes(*boxes[1])
    rects = _zone_tile_rects(zone_windows(_zone_geom_dict(zones), meta), meta)
    stats = ["count", "min", "max", "mean"]
    want = _collect_sorted(zonal_stats_df(
        zones, tiles, datasets, dataset="wide", stats=stats, prune_tiles=False,
    ))
    assert len(want) == 2 and all(r[1] == 28 * 28 for r in want)
    writers = {
        "sorted": lambda p: write_quadkey_sorted_tiles(
            tiles, p, files=1, row_group_bytes=1),
        "partitioned": lambda p: write_quadkey_partitioned_tiles(
            tiles, datasets, p, row_group_bytes=1),
    }
    for name, write in writers.items():
        path = str(tmp_path / name)
        write(path)
        table = spark.read.parquet(path)
        assert table.count() == 32, name
        pred = rects_prune_filter(rects, meta, table.columns)
        assert "BETWEEN" not in pred and _key_set(pred) == want_keys, name
        out = zonal_stats_df(
            zones, table, datasets, dataset="wide", stats=stats,
        )
        assert _collect_sorted(out) == want, name
        assert scan_output_rows(out) <= len(want_keys), name
        assert _collect_sorted(zonal_stats_df(
            zones, table, datasets, dataset="wide", stats=stats,
            prune_tiles=False,
        )) == want, name
        (parts, data), = _scan_filters(out)
        assert re.search(r"quadkey#\d+L (INSET|IN \()", data), (name, data)
        assert ("qk_prefix" in parts) == (name == "partitioned"), (name, parts)


def test_smj_regime_prunes_without_collecting_geoms(spark, sparse_corpus):
    """The SMJ regime (zone set too large to collect) fences the tile scan
    with the DISTRIBUTED Morton-bucketed rects of its sizing pass —
    results equal broadcast, and the predicate reaches the scan."""
    from python_rasterstats_spark.operators.zonal import (
        collect_dataset_meta,
        front_half,
    )

    c = sparse_corpus
    stats = ["count", "min", "max", "mean"]
    want = _collect_sorted(
        zonal_stats_df(
            c["zones"], spark.read.parquet(c["plain"]), c["datasets"],
            dataset="sparse", stats=stats, prune_tiles=False,
        )
    )
    got = _collect_sorted(
        zonal_stats_df(
            c["zones"], spark.read.parquet(c["plain"]), c["datasets"],
            dataset="sparse", stats=stats, broadcast_zones=False,
        )
    )
    assert want == got
    meta = collect_dataset_meta(c["datasets"])
    fenced = front_half(
        c["zones"], spark.read.parquet(c["plain"]), meta, broadcast=False
    ).tiles
    plan = fenced._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "tile_col" in plan
    # per-zone granularity without any geometry collect: the 2 corner
    # zones admit ~their own tiles, not the whole-grid union bbox
    assert fenced.count() <= 64  # union bbox would admit all 4096


def test_sorted_writer_rowgroup_sizing_beats_rects(spark, sparse_corpus, tmp_path):
    """r5 (VERDICT r4 'Next round #2'): write_quadkey_sorted_tiles caps
    parquet row-group bytes, so the Morton sort's locality reaches the
    skipping granule. Audit: bytes-must-read under the fence's key set on
    the sized sorted file (groups holding a covered key, what its bloom
    filter admits) ≤ bytes under its rect form on the plain row-major
    corpus at the SAME granularity (min-max admission) — the r4 residue
    was sorted storage losing to rects purely on 36 MiB groups."""
    import pyarrow as pa

    from python_rasterstats_spark.sources.tables import (
        write_quadkey_sorted_tiles,
    )
    c = sparse_corpus
    meta = collect_dataset_meta(c["datasets"])
    rects = _zone_tile_rects(zone_windows(_zone_geom_dict(c["zones"]), meta), meta)

    # plain corpus re-written at the same granularity for a fair audit
    gran = 64 << 10
    plain_pdf = spark.read.parquet(c["plain"]).toPandas()
    plain_rg = os.path.join(tmp_path, "plain_rg.parquet")
    pq.write_table(
        pa.Table.from_pandas(plain_pdf, preserve_index=False), plain_rg,
        row_group_size=max(1, gran // (16 * 16 * 4)),
    )
    qk_path = os.path.join(tmp_path, "qk_sized")
    write_quadkey_sorted_tiles(
        spark.read.parquet(c["plain"]), qk_path, files=1,
        row_group_bytes=gran,
    )

    keys = _key_set(rects_prune_filter(rects, meta, ["quadkey"]))
    pushed_rects = pred_rects(rects_prune_filter(rects, meta))
    adm_r, tot_r, by_rect = admit_bytes(plain_rg, rect_admit(pushed_rects))
    adm_q, tot_q, by_qk = key_admit_bytes(qk_path, keys)
    # the writer option took effect: many small groups, not one big one
    assert tot_q >= 16, f"row-group sizing ignored ({tot_q} groups)"
    # the layout's win: sorted-storage must-read ≤ the rect number, and
    # both admit a small fraction of the corpus
    assert by_qk <= by_rect, (by_qk, by_rect)
    assert adm_q * 4 <= tot_q


def test_point_query_smj_regime_fenced_and_matches(spark, sparse_corpus):
    """The point operator's SMJ regime (broadcast_vertices=False — vertex
    sets too large to collect) fences the tile scan with the front
    half's collect-free Morton-bucketed rects over each zone's tile
    window widened by one tile. Results equal the broadcast regime; the
    fence admits ~the working set, not the corpus."""
    from python_rasterstats_spark.operators.point import point_query_df
    from python_rasterstats_spark.operators.zonal import (
        collect_dataset_meta, front_half,
    )

    c = sparse_corpus
    want = _collect_sorted(
        point_query_df(
            c["zones"], spark.read.parquet(c["plain"]), c["datasets"],
            dataset="sparse", interpolate="bilinear",
        )
    )
    got = _collect_sorted(
        point_query_df(
            c["zones"], spark.read.parquet(c["plain"]), c["datasets"],
            dataset="sparse", interpolate="bilinear",
            broadcast_vertices=False,
        )
    )
    assert want == got and len(want) > 0
    # the fence itself: padded tile windows → ≤64 rects → predicate
    meta = collect_dataset_meta(c["datasets"])
    fenced = front_half(
        c["zones"], spark.read.parquet(c["plain"]), meta, broadcast=False,
        pad_tiles=1,
    ).tiles
    assert fenced.count() <= 64  # two corner zones: not the 4096-tile corpus


@pytest.fixture(scope="module")
def sorted_tiles(spark, sparse_corpus, tmp_path_factory):
    """sparse_corpus' tiles written by write_quadkey_sorted_tiles into one
    file of 16 KiB row groups (~14 tiles each)."""
    from python_rasterstats_spark.sources.tables import (
        write_quadkey_sorted_tiles,
    )

    path = str(tmp_path_factory.mktemp("sorted") / "tiles")
    write_quadkey_sorted_tiles(
        spark.read.parquet(sparse_corpus["plain"]), path, files=1,
        row_group_bytes=16 << 10,
    )
    return path


def _box_zones(spark, tile_boxes, dataset="sparse", height=1024):
    """One zone per inclusive (tc0, tc1, tr0, tr1) tile box of a grid of
    16-px tiles ``height`` px tall, y flipped (default: sparse_corpus),
    inset by 2 px so it covers exactly those tiles."""
    import python_rasterstats_spark.geom as G

    return features_to_zones(
        spark,
        [
            G.box(tc0 * 16 + 2, height - (tr1 + 1) * 16 + 2,
                  (tc1 + 1) * 16 - 2, height - tr0 * 16 - 2)
            for tc0, tc1, tr0, tr1 in tile_boxes
        ],
        dataset=dataset,
    )


def _wide_boxes(spark, tile_boxes):
    """_box_zones of the wide grid (_wide_meta)."""
    return _box_zones(spark, tile_boxes, dataset="wide", height=64)


def test_fresh_sparse_draw_compiles_nothing(spark, sparse_corpus, sorted_tiles):
    """Over sorted storage, a sparse zone set's predicate is its exact
    tile-key set, which Spark turns into an InSet whose generated code
    references the keys: a second query with other zones (each set
    covering > 10 tiles) reuses every compiled class. A BETWEEN list
    inlines its bounds and compiles twice per fresh zone set."""
    c = sparse_corpus
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    stats = ["count", "min", "max", "mean"]
    tiles = spark.read.parquet(sorted_tiles)
    first = _box_zones(spark, [(0, 2, 0, 2), (61, 63, 61, 63)])
    second = _box_zones(spark, [(20, 23, 5, 7), (40, 42, 50, 53)])
    zonal_stats_df(
        first, tiles, c["datasets"], dataset="sparse", stats=stats
    ).collect()
    before = cm.METRIC_COMPILATION_TIME().getCount()
    got = _collect_sorted(
        zonal_stats_df(
            second, tiles, c["datasets"], dataset="sparse", stats=stats
        )
    )
    assert cm.METRIC_COMPILATION_TIME().getCount() - before == 0
    want = _collect_sorted(
        zonal_stats_df(
            second, tiles, c["datasets"], dataset="sparse", stats=stats,
            prune_tiles=False,
        )
    )
    assert got == want and all(r[1] > 0 for r in got)


def test_sorted_scan_prunes_row_groups_per_key(spark, sparse_corpus, sorted_tiles):
    """The executed scan, not an offline stats replay: the two corner
    zones' key set spans the whole code space, so min-max stats admit
    every row group; the sorted writer's quadkey bloom filter rejects
    the groups holding none of the 18 keys, and the scan outputs ≤ 1/10
    of the table's rows."""
    c = sparse_corpus
    stats = ["count", "min", "max", "mean", "median"]
    tiles = spark.read.parquet(sorted_tiles)
    out = zonal_stats_df(
        c["zones"], tiles, c["datasets"], dataset="sparse", stats=stats
    )
    got = _collect_sorted(out)
    total = tiles.count()
    assert total == 4096
    assert 18 <= scan_output_rows(out) <= total // 10
    want = _collect_sorted(
        zonal_stats_df(
            c["zones"], tiles, c["datasets"], dataset="sparse", stats=stats,
            prune_tiles=False,
        )
    )
    assert got == want and want[0][1] > 0


@pytest.mark.parametrize(
    "boxes, form",
    [
        # two 3×3-tile corners: 18 keys
        ([(0, 2, 0, 2), (61, 63, 61, 63)], "keys"),
        # a 24×24-tile block tiled by four zones: 576 keys, dense
        ([(0, 11, 0, 11), (12, 23, 0, 11), (0, 11, 12, 23),
          (12, 23, 12, 23)], "keys"),
        # two opposite 24×24-tile blocks: 1,152 keys, past _MAX_KEYS
        ([(0, 23, 0, 23), (40, 63, 40, 63)], "rects"),
        # past 2^16 tiles per side, where a 16-level code would wrap
        ([(WIDE - 6, WIDE - 1, 0, 3)], "keys"),
    ],
    ids=["sparse", "dense", "above_cap", "wide"],
)
def test_quadkey_predicate_form_follows_the_working_set(
    spark, sparse_corpus, boxes, form
):
    """Over a quadkey column a working set of ≤ _MAX_KEYS tiles goes as
    its exact key set, dense or not, on a grid of any width; a larger
    one as its tile_col/tile_row rects."""
    wide = boxes[0][1] >= 1 << 16
    meta = _wide_meta() if wide else collect_dataset_meta(
        sparse_corpus["datasets"]
    )
    zones = (_wide_boxes if wide else _box_zones)(spark, boxes)
    rects = _zone_tile_rects(
        zone_windows(_zone_geom_dict(zones), meta), meta
    )
    pred = rects_prune_filter(rects, meta, ["quadkey"])
    want = set().union(*(_codes(*b) for b in boxes))
    if form == "keys":
        assert "BETWEEN" not in pred and _key_set(pred) == want
    else:
        got = pred_rects(pred)
        assert "quadkey" not in pred and 1 <= len(got) <= 64
        cells = {
            (c, r)
            for tc0, tc1, tr0, tr1 in boxes
            for c in range(tc0, tc1 + 1)
            for r in range(tr0, tr1 + 1)
        }
        assert all(
            any(x0 <= c <= x1 and y0 <= r <= y1 for x0, x1, y0, y1 in got)
            for c, r in cells
        )
