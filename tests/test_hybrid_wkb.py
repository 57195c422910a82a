"""Hybrid WKB shipping in the SMJ regime (r3 verdict 'What's wrong #1').

The shuffle-join regime used to carry EVERY zone's WKB once per covering
tile through the tile-key exchange — a continent polygon with an MB-scale
WKB over 10⁴-10⁶ tiles ships GB-TB. The hybrid regime broadcasts exactly
the zones whose wkb_bytes × ncells duplication exceeds a threshold and
carries NULL on their cells; small zones still ride the exchange inline
(no second shuffle, no driver collect of the full zone set).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_rasterstats_spark import geom as G
from python_rasterstats_spark.operators.zonal import (
    collect_dataset_meta,
    hybrid_big_zone_geoms,
    zonal_stats_df,
    zone_cell_counts,
    zone_cover_cells,
)
from python_rasterstats_spark.sources.tables import (
    features_to_zones,
    raster_to_tables,
)

STATS = ["count", "min", "max", "mean", "sum", "std", "median"]


def _dense_ring_wkt(cx, cy, r, npts=2000):
    """A circle with npts vertices → a deliberately fat WKB (~32 KB)."""
    ang = np.linspace(0, 2 * np.pi, npts, endpoint=False)
    pts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a in ang]
    pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts) + "))"


@pytest.fixture(scope="module")
def skew_corpus(spark):
    rng = np.random.default_rng(5)
    arr = rng.uniform(0, 50, size=(256, 256)).astype(np.float32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 256.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="skew", nodata=-9999.0, tile=8
    )  # 32×32 grid = 1024 tiles
    # continent: dense-vertex circle covering almost the whole raster
    # (~1000 covering tiles × ~32 KB WKB); plus 6 small squares
    wkts = [_dense_ring_wkt(128, 128, 126)]
    for i in range(6):
        x0, y0 = 20 + 30 * i, 40 + 20 * i
        wkts.append(
            f"POLYGON (({x0} {y0}, {x0 + 9} {y0}, {x0 + 9} {y0 + 9}, "
            f"{x0} {y0 + 9}, {x0} {y0}))"
        )
    zones = features_to_zones(spark, wkts, dataset="skew")
    return tiles, zones, datasets


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _assert_close(a, b):
    # partial-merge order differs between regimes → float sums/moments can
    # drift by ulps; values must agree to 1e-9 relative, ids exactly
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra[0] == rb[0]
        np.testing.assert_allclose(ra[1:], rb[1:], rtol=1e-9)


def test_hybrid_smj_matches_broadcast_regime(spark, skew_corpus):
    tiles, zones, datasets = skew_corpus
    want = _rows(
        zonal_stats_df(zones, tiles, datasets, dataset="skew", stats=STATS)
    )
    got_hybrid = _rows(
        zonal_stats_df(
            zones, tiles, datasets, dataset="skew", stats=STATS,
            broadcast_zones=False, hybrid_wkb_bytes=1 << 20,
        )
    )
    got_inline = _rows(
        zonal_stats_df(
            zones, tiles, datasets, dataset="skew", stats=STATS,
            broadcast_zones=False, hybrid_wkb_bytes=None,
        )
    )
    _assert_close(want, got_hybrid)
    _assert_close(want, got_inline)
    assert want[0][1] > 0


def test_hybrid_selects_only_the_continent(spark, skew_corpus):
    _, zones, datasets = skew_corpus
    meta = collect_dataset_meta(datasets)
    bc, keys = hybrid_big_zone_geoms(
        zones, zone_cell_counts(zones, meta), threshold_bytes=1 << 20
    )
    assert keys == frozenset({(0, "skew")})  # the dense ring, nothing else
    assert set(bc.value) == keys
    assert len(bc.value[(0, "skew")]) > 16_000  # the fat WKB itself


def test_hybrid_cells_carry_null_for_big_zones_only(spark, skew_corpus):
    """Shuffle-bytes evidence: with the hybrid key set, the exchange
    payload scales with small-WKB cells, not continent WKB × cells."""
    _, zones, datasets = skew_corpus
    meta = collect_dataset_meta(datasets)
    big_wkb = len(
        bytes(
            zones.filter(F.col("zone_id") == 0)
            .select("geometry_wkb")
            .first()[0]
        )
    )
    cells = zone_cover_cells(
        zones, meta, clip_to_grid=True, with_geometry=True,
        null_wkb_keys=frozenset({(0, "skew")}),
    )
    agg = cells.agg(
        F.sum(F.length("geometry_wkb")).alias("inline_bytes"),
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("geometry_wkb").isNull(), 1).otherwise(0)
        ).alias("nulls"),
        F.sum(
            F.when(F.col("zone_id") == 0, 1).otherwise(0)
        ).alias("big_cells"),
    ).first()
    assert agg["big_cells"] > 900  # the continent really is skewed
    assert agg["nulls"] == agg["big_cells"]  # exactly its cells are NULL
    # without the hybrid the exchange would carry ≥ big_cells × big_wkb;
    # with it the whole inline payload is smaller than ONE continent WKB ×
    # a handful of cells
    assert agg["inline_bytes"] < big_wkb * 4
    inline_cells = zone_cover_cells(
        zones, meta, clip_to_grid=True, with_geometry=True
    )
    inline_total = inline_cells.agg(
        F.sum(F.length("geometry_wkb"))
    ).first()[0]
    assert inline_total > agg["inline_bytes"] * 50  # the duplication killed


def test_hybrid_default_threshold_keeps_small_zone_sets_inline(
    spark, skew_corpus
):
    """With the default 16 MB threshold this corpus's continent (~30 MB
    duplication) is caught, the small zones never are."""
    _, zones, datasets = skew_corpus
    meta = collect_dataset_meta(datasets)
    counts = zone_cell_counts(zones, meta)
    _, keys = hybrid_big_zone_geoms(zones, counts, threshold_bytes=16 << 20)
    assert keys == frozenset({(0, "skew")})
    _, keys_high = hybrid_big_zone_geoms(
        zones, counts, threshold_bytes=1 << 40
    )
    assert keys_high == frozenset()


def test_crosstab_hybrid_smj_matches_broadcast(spark, corpus):
    """Crosstab's SMJ regime gets the same hybrid WKB bound as zonal."""
    from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df

    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    kw = dict(value_dataset="slope", class_dataset="slope_classes")
    want = _rows(zonal_crosstab_df(polys, tiles, datasets, **kw))
    got_hybrid = _rows(
        zonal_crosstab_df(
            polys, tiles, datasets, broadcast_zones=False,
            hybrid_wkb_bytes=1, **kw,  # force EVERY zone down the hybrid path
        )
    )
    got_inline = _rows(
        zonal_crosstab_df(
            polys, tiles, datasets, broadcast_zones=False,
            hybrid_wkb_bytes=None, **kw,
        )
    )
    _assert_close(want, got_hybrid)
    _assert_close(want, got_inline)
    assert len(want) > 0
