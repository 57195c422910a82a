"""Round-5 fixes (ADVICE r4 items 1-4 + VERDICT r4 'Next round' 3-5):

- ADVICE #1 (medium, wrong results): Morton overflow in the quadkey
  pruning must emit NO quadkey constraint (the tile_col/tile_row rects
  stand in) — a finite key list over a level the storage exceeded
  silently drops real tiles; quadkey_level is threaded through the
  operators.
- ADVICE #2: _coalesce_rects must survive negative window centers
  (boundless SMJ path) — clamp the Morton sort key.
- ADVICE #3: write_quadkey_partitioned_tiles must escape dataset names
  in its CASE expression.
- ADVICE #4: a JPEG stream truncated inside a 0xFF fill-byte run must
  raise the codec's controlled error, not IndexError.
- VERDICT #3: a mixed add_stats dict (triples + plain callables) fails
  fast on the driver with a clear message.
- VERDICT #4: the SMJ sizing pass runs ONCE (persisted across its
  consumers) — asserted via the sizing accumulator.
- VERDICT #5: holistic_mode='auto' (new default) picks exact/sketch/salt
  from the per-zone size estimate; parity corpora stay bit-exact.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_rasterstats_spark import geom as G
from python_rasterstats_spark.operators import zonal as Z
from python_rasterstats_spark.operators.zonal import (
    _coalesce_rects,
    _zone_tile_rects,
    auto_holistic_plan,
    collect_dataset_meta,
    rects_prune_filter,
    storage_fence,
    zonal_stats_df,
    zone_windows,
)
from python_rasterstats_spark.sources.tables import (
    features_to_zones,
    raster_to_tables,
    with_quadkey,
)


@pytest.fixture(scope="module")
def grid(spark):
    """256×256 px / 16×16-tile corpus + two small zones (y row 0 at top)."""
    rng = np.random.default_rng(7)
    arr = rng.uniform(0, 100, size=(256, 256)).astype(np.float32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 256.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="g", nodata=-9999.0, tile=16
    )
    wkt_a = "POLYGON ((5 220, 40 220, 40 250, 5 250, 5 220))"
    wkt_b = "POLYGON ((200 10, 250 10, 250 60, 200 60, 200 10))"
    zones = features_to_zones(spark, [wkt_a, wkt_b], dataset="g")
    return arr, tiles, datasets, zones


def _sorted(df):
    return sorted(map(tuple, df.collect()))


# --------------------------------------------------------------------------
# ADVICE #1 — Morton overflow must never drop tiles
# --------------------------------------------------------------------------

def test_quadkey_overflow_emits_none_sentinel(grid):
    """Past the level's grid the key set is None: no quadkey constraint,
    the rects stand in, and the fenced scan admits fewer tiles than the
    table."""
    _, tiles, datasets, zones = grid
    meta = collect_dataset_meta(datasets)
    rects = _zone_tile_rects(zone_windows({
        (r["zone_id"], r["dataset"]): bytes(r["geometry_wkb"])
        for r in zones.select("zone_id", "dataset", "geometry_wkb").collect()
    }, meta), meta)
    qk_tiles = with_quadkey(tiles)
    # level 2 addresses a 4×4 grid; ours is 16×16 → overflow
    s = rects_prune_filter(rects, meta, qk_tiles.columns, quadkey_level=2)
    assert "tile_col BETWEEN" in s and "quadkey" not in s
    fenced = storage_fence(qk_tiles, rects, meta, quadkey_level=2)
    assert 0 < fenced.count() < tiles.count()
    # no overflow at the true level: the key set appears
    s = rects_prune_filter(rects, meta, qk_tiles.columns, quadkey_level=4)
    assert "quadkey IN" in s and "BETWEEN" not in s


def test_quadkey_overflow_end_to_end_results_unchanged(grid):
    """With a quadkey level too small for the grid, the scan must be
    fenced by the rects, never wrongly pruned (the pre-fix predicate
    BETWEEN 0 AND 4^level-1 drops every tile whose stored code exceeds
    it): fewer tiles than the table, the rows of the unpruned run."""
    _, tiles, datasets, zones = grid
    qk_tiles = with_quadkey(tiles)  # stored codes up to 255 on this grid
    stats = ["count", "min", "max", "mean", "median"]
    want = _sorted(zonal_stats_df(
        zones, qk_tiles, datasets, dataset="g", stats=stats,
        prune_tiles=False,
    ))
    got_overflow = _sorted(zonal_stats_df(
        zones, qk_tiles, datasets, dataset="g", stats=stats,
        quadkey_level=2,
    ))
    fenced = Z.front_half(
        zones, qk_tiles, collect_dataset_meta(datasets), broadcast=True,
        quadkey_level=2,
    ).tiles
    assert 0 < fenced.count() < 256
    got_level = _sorted(zonal_stats_df(
        zones, qk_tiles, datasets, dataset="g", stats=stats,
        quadkey_level=4,  # the grid's true level, threaded through
    ))
    assert want == got_overflow == got_level
    assert want[0][1] > 0


# --------------------------------------------------------------------------
# ADVICE #2 — negative window centers in the rect coalescer
# --------------------------------------------------------------------------

def test_coalesce_rects_survives_negative_centers():
    # 20 disjoint rects straddling the grid origin → cap forces the
    # Morton-ordered grouping, whose sort key must clamp negatives
    rects = [(i - 10, i - 9, i - 10, i - 9) for i in range(0, 40, 2)]
    out = _coalesce_rects(rects, 4)
    assert len(out) <= 4
    for tc0, tc1, tr0, tr1 in rects:  # superset-safety unchanged
        assert any(
            o[0] <= tc0 and tc1 <= o[1] and o[2] <= tr0 and tr1 <= o[3]
            for o in out
        )


# --------------------------------------------------------------------------
# ADVICE #3 — dataset-name escaping in the partitioned writer
# --------------------------------------------------------------------------

def test_partitioned_writer_escapes_dataset_names(spark, tmp_path):
    from python_rasterstats_spark.sources.tables import (
        write_quadkey_partitioned_tiles,
    )

    arr = np.arange(64 * 64, dtype=np.float32).reshape(64, 64)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 64.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="it's a; name", nodata=-1.0, tile=16
    )
    path = os.path.join(tmp_path, "qk_part")
    write_quadkey_partitioned_tiles(tiles, datasets, path)
    back = spark.read.parquet(path)
    assert back.count() == tiles.count()
    assert back.filter(F.col("dataset") == "it's a; name").count() == 16


# --------------------------------------------------------------------------
# ADVICE #4 — truncated JPEG ending in fill bytes
# --------------------------------------------------------------------------

def test_jpeg_truncated_in_fill_bytes_raises_controlled():
    from python_rasterstats_spark.jpegcodec import jpeg_decode

    with pytest.raises(AssertionError, match="truncated"):
        jpeg_decode(b"\xff\xd8" + b"\xff\xff\xff")


# --------------------------------------------------------------------------
# VERDICT #3 — mixed add_stats dict fails fast on the driver
# --------------------------------------------------------------------------

def test_mixed_add_stats_raises_clear_error(spark):
    from python_rasterstats_spark.api import gen_zonal_stats

    arr = np.ones((8, 8), dtype=np.float32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 8.0)
    triple = (
        lambda m: np.array([float(np.ma.sum(m))]),
        lambda s: s.sum(axis=0),
        lambda s: float(s[0]),
    )
    with pytest.raises(ValueError, match="mixes .*triples.*plain callables"):
        list(gen_zonal_stats(
            [G.box(1.0, 1.0, 6.0, 6.0)], arr, affine=aff, spark=spark,
            stats=["count"],
            add_stats={"t": triple, "p": lambda m: float(np.ma.mean(m))},
        ))


# --------------------------------------------------------------------------
# VERDICT #5 — size-aware auto holistic plan
# --------------------------------------------------------------------------

def test_auto_holistic_plan_unit():
    kw = dict(threshold_px=1000)
    # parity scale → exact, whatever the stats/dtype
    assert auto_holistic_plan(
        999, want_exact_domain=False, continuous=True, **kw) == "exact"
    assert auto_holistic_plan(
        0, want_exact_domain=True, continuous=False, **kw) == "exact"
    # huge + quantiles-only + continuous → sketch
    assert auto_holistic_plan(
        10**9, want_exact_domain=False, continuous=True, **kw) == "sketch"
    # huge + exact domain on a CONTINUOUS raster → plain exact merge: a
    # salted pre-merge cannot collapse a duplicate-free domain, so it
    # only re-serializes the full multiset through a second pandas round
    # (r6: measured 247 s salted vs 51 s exact on the 604 M-px corpus,
    # identical values)
    assert auto_holistic_plan(
        10**9, want_exact_domain=True, continuous=True, **kw) == "exact"
    # huge integer raster (bounded domain collapses under merge) → salt
    assert auto_holistic_plan(
        10**9, want_exact_domain=False, continuous=False, **kw) == "salt"
    assert auto_holistic_plan(
        10**9, want_exact_domain=True, continuous=False, **kw) == "salt"


def test_auto_default_is_exact_at_parity_scale(corpus):
    tiles, zones, datasets = corpus
    z = zones.filter(F.col("collection") == "hd_zones")
    kw = dict(dataset="slope_hd",
              stats=["count", "median", "percentile_25", "unique"])
    default = _sorted(zonal_stats_df(z, tiles, datasets, **kw))
    exact = _sorted(zonal_stats_df(
        z, tiles, datasets, holistic_mode="exact", **kw))
    assert default == exact  # bit-equal: parity corpora never sketch


def test_auto_picks_sketch_past_threshold(corpus):
    tiles, zones, datasets = corpus
    z = zones.filter(F.col("collection") == "hd_zones")
    kw = dict(dataset="slope_hd", stats=["count", "median", "percentile_90"],
              sketch_px=256)
    auto = _sorted(zonal_stats_df(
        z, tiles, datasets, auto_px_per_zone=0, **kw))
    forced = _sorted(zonal_stats_df(
        z, tiles, datasets, holistic_mode="sketch", **kw))
    exact = _sorted(zonal_stats_df(
        z, tiles, datasets, holistic_mode="exact", **kw))
    assert auto == forced  # auto really took the sketch plan
    assert auto != exact   # ...and the sketch is observably not exact here


def test_auto_salts_exact_domain_past_threshold(corpus):
    tiles, zones, datasets = corpus
    z = zones.filter(F.col("collection") == "hd_zones")
    kw = dict(dataset="slope_hd", stats=["count", "median", "unique"])
    auto = _sorted(zonal_stats_df(
        z, tiles, datasets, auto_px_per_zone=0, **kw))
    exact = _sorted(zonal_stats_df(
        z, tiles, datasets, holistic_mode="exact", **kw))
    assert auto == exact  # salted exact merge: values unchanged


def test_auto_in_smj_regime_uses_sizing_estimate(grid):
    _, tiles, datasets, zones = grid
    kw = dict(dataset="g", stats=["count", "median"], sketch_px=256,
              broadcast_zones=False)
    auto = _sorted(zonal_stats_df(
        zones, tiles, datasets, auto_px_per_zone=0, **kw))
    forced = _sorted(zonal_stats_df(
        zones, tiles, datasets, holistic_mode="sketch", **kw))
    assert auto == forced and auto[0][1] > 0


# --------------------------------------------------------------------------
# VERDICT #4 — the SMJ sizing pass scans the zone table exactly once
# --------------------------------------------------------------------------

def test_smj_sizing_pass_runs_once(grid):
    _, tiles, datasets, zones = grid
    n_zone_rows = zones.count()
    out = zonal_stats_df(
        zones, tiles, datasets, dataset="g",
        stats=["count", "mean", "median"],
        broadcast_zones=False,          # SMJ regime
        hybrid_wkb_bytes=1,             # force the hybrid consumer
        prune_tiles=True,               # force the scan-fence consumer
        auto_px_per_zone=0,             # force the auto-plan consumer
    )
    acc = Z._LAST_SIZING_ACC
    assert acc is not None
    # all three consumers (hybrid selection, scan fence, size estimate)
    # were served by ONE evaluation of the persisted sizing pass
    assert acc.value == n_zone_rows, (
        f"sizing pass evaluated {acc.value / n_zone_rows:.1f}× "
        f"({acc.value} rows for {n_zone_rows} zones)"
    )
    # and the plan built on top is still correct vs the broadcast regime
    want = _sorted(zonal_stats_df(
        zones, tiles, datasets, dataset="g",
        stats=["count", "mean", "median"],
    ))
    assert _sorted(out) == want
