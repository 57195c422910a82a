"""Scalable add_stats protocol (SURVEY §2.4 A18, r2 verdict #7):
{name: (partial_fn, merge_fn, finalize_fn)} runs in the partial/merge
path — user stats stay distributed, no per-zone mosaic task."""

import numpy as np
import pytest

from python_rasterstats_spark import geom as G
from python_rasterstats_spark.api import gen_zonal_stats
from python_rasterstats_spark.operators.zonal import zonal_stats_df
from python_rasterstats_spark.sources.tables import ZONES_DDL, raster_to_tables

AFF = (1.0, 0.0, 0.0, 0.0, -1.0, 16.0)

SUMSQ = (
    lambda m: [float((np.asarray(m.compressed(), dtype=np.float64) ** 2).sum())],
    lambda states: states.sum(axis=0),
    lambda s: float(s[0]),
)
# mean-of-squares: a 2-length state (sumsq, n) proving multi-element states
MEANSQ = (
    lambda m: [
        float((np.asarray(m.compressed(), dtype=np.float64) ** 2).sum()),
        float(m.count()),
    ],
    lambda states: states.sum(axis=0),
    lambda s: None if s[1] == 0 else float(s[0] / s[1]),
)


def _corpus(spark, nodata=-1.0):
    rng = np.random.default_rng(5)
    arr = rng.uniform(0, 50, size=(16, 16)).astype(np.float32)
    arr[3:5, 3:5] = nodata
    tiles, datasets = raster_to_tables(
        spark, arr, AFF, dataset="d", nodata=nodata, tile=4
    )
    return arr, tiles, datasets


def _zones(spark, geoms):
    return spark.createDataFrame(
        [{"zone_id": i, "collection": "t", "geometry_wkb": G.wkb_dumps(g),
          "geom_type": g["type"], "properties": {}} for i, g in enumerate(geoms)],
        schema=ZONES_DDL,
    )


def _expected(arr, zone):
    """Kernel-oracle valid pixel set for the zone -> (sumsq, meansq)."""
    from python_rasterstats_spark import kernel as K

    block, rv, _, fill = K.prepare_zone(zone, arr, AFF, nodata=-1.0)
    seg = block[rv & (block != fill) & ~np.isnan(block)].astype(np.float64)
    return float((seg ** 2).sum()), float((seg ** 2).mean())


def test_protocol_matches_numpy_and_salted_merge(spark, pin_salt):
    arr, tiles, datasets = _corpus(spark)
    z0, z1 = G.box(1.0, 1.0, 9.0, 15.0), G.box(6.0, 2.0, 14.0, 10.0)
    zones = _zones(spark, [z0, z1])
    for salt in (None, 4):
        pin_salt(salt)
        out = {
            r["zone_id"]: r.asDict()
            for r in zonal_stats_df(
                zones, tiles, datasets, dataset="d",
                stats=["count", "mean"],
                add_stats={"sumsq": SUMSQ, "meansq": MEANSQ},
            ).collect()
        }
        ss0, ms0 = _expected(arr, z0)
        assert out[0]["sumsq"] == pytest.approx(ss0, rel=1e-12)
        assert out[0]["meansq"] == pytest.approx(ms0, rel=1e-12)
        ss1, ms1 = _expected(arr, z1)
        assert out[1]["sumsq"] == pytest.approx(ss1, rel=1e-12)
        assert out[1]["meansq"] == pytest.approx(ms1, rel=1e-12)


def test_protocol_composes_with_holistics(spark):
    arr, tiles, datasets = _corpus(spark)
    zones = _zones(spark, [G.box(0.0, 0.0, 16.0, 16.0)])
    out = zonal_stats_df(
        zones, tiles, datasets, dataset="d",
        stats=["count", "median", "percentile_25"],
        add_stats={"sumsq": SUMSQ},
    ).collect()[0].asDict()
    seg = arr[arr != -1.0].astype(np.float64)
    assert out["sumsq"] == pytest.approx(float((seg ** 2).sum()), rel=1e-12)
    assert out["median"] == pytest.approx(float(np.median(seg)), rel=1e-12)


def test_api_routes_triples_to_partial_path(spark):
    arr, tiles, datasets = _corpus(spark)
    res = list(gen_zonal_stats(
        [G.box(1.0, 1.0, 9.0, 15.0)], arr, affine=AFF, nodata=-1.0,
        stats=["count"], add_stats={"sumsq": SUMSQ}, spark=spark,
    ))[0]
    ss0, _ = _expected(arr, G.box(1.0, 1.0, 9.0, 15.0))
    assert res["sumsq"] == pytest.approx(ss0, rel=1e-12)
    with pytest.raises(ValueError, match="gather tier"):
        list(gen_zonal_stats(
            [G.box(1.0, 1.0, 9.0, 15.0)], arr, affine=AFF, nodata=-1.0,
            stats=["count"], add_stats={"sumsq": SUMSQ}, raster_out=True,
            spark=spark,
        ))


def test_protocol_rejects_bad_shapes(spark):
    arr, tiles, datasets = _corpus(spark)
    zones = _zones(spark, [G.box(0.0, 0.0, 8.0, 8.0)])
    with pytest.raises(ValueError, match="triple"):
        zonal_stats_df(
            zones, tiles, datasets, dataset="d", stats=["count"],
            add_stats={"bad": lambda m: 1.0},
        )
    with pytest.raises(ValueError, match="shadows"):
        zonal_stats_df(
            zones, tiles, datasets, dataset="d", stats=["count"],
            add_stats={"mean": SUMSQ},
        )
