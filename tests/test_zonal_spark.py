"""Differential tests: distributed zonal pipeline vs the single-node
reference-semantics oracle (frozen goldens in expected_zonal.parquet).

This is the engine analog of the reference's tests/test_zonal.py golden
suite: every QUERY_MATRIX entry (default stats, all stats, all_touched,
categorical, nodata overrides, masked datasets, every geometry type,
partial/no overlap, NaN accounting) must match the oracle zone-for-zone.
"""

import math

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from python_rasterstats_spark.fixtures import QUERY_MATRIX, _matrix_stats
from python_rasterstats_spark.operators.zonal import zonal_stats_df

STAT_EXACT = {"count", "unique", "nodata", "nan", "median", "majority", "minority"}


@pytest.fixture(scope="module")
def expected(fixture_dir):
    df = pq.read_table(f"{fixture_dir}/expected_zonal.parquet").to_pandas()
    return df.set_index(["query", "zone_id"])


def _run_query(corpus, qname):
    tiles, zones, datasets = corpus
    coll, ds, kwargs = QUERY_MATRIX[qname]
    stats, categorical = _matrix_stats(kwargs)
    out = zonal_stats_df(
        zones.filter(F.col("collection") == coll),
        tiles,
        datasets,
        dataset=ds,
        stats=stats,
        all_touched=kwargs.get("all_touched", False),
        categorical=categorical,
        nodata=kwargs.get("nodata"),
    )
    return out.orderBy("zone_id").toPandas(), stats, categorical


@pytest.mark.parametrize("qname", list(QUERY_MATRIX))
def test_query_matches_oracle(corpus, expected, qname):
    got, stats, categorical = _run_query(corpus, qname)
    assert len(got) > 0
    for _, row in got.iterrows():
        exp = expected.loc[(qname, row["zone_id"])]
        for s in stats:
            g = row[s]
            e = exp[s]
            g_null = g is None or (isinstance(g, float) and math.isnan(g))
            e_null = e is None or (isinstance(e, float) and math.isnan(e))
            assert g_null == e_null, (qname, row["zone_id"], s, g, e)
            if g_null:
                continue
            if s in STAT_EXACT:
                assert float(g) == float(e), (qname, row["zone_id"], s, g, e)
            else:
                assert float(g) == pytest.approx(float(e), rel=1e-9, abs=1e-9), (
                    qname, row["zone_id"], s, g, e,
                )
        if categorical:
            e_vc = exp["value_counts"]
            e_map = dict(e_vc) if not isinstance(e_vc, dict) else e_vc
            g_vc = row["value_counts"]
            if g_vc is None:
                assert not e_map or exp["count"] == 0
            else:
                assert {float(k): int(v) for k, v in g_vc.items()} == {
                    float(k): int(v) for k, v in e_map.items()
                }


def test_headline_goldens(corpus, expected):
    """The reference's own famous numbers (test_zonal.py:26-28, :104-108,
    :223-228, :418-435) hold through the distributed path."""
    got, _, _ = _run_query(corpus, "polygons_slope_default")
    assert got["count"].tolist() == [75, 50]
    assert round(got["mean"].iloc[0], 2) == 14.66

    got, _, _ = _run_query(corpus, "multipolygons_slope")
    assert got["count"].tolist() == [125]

    got, _, _ = _run_query(corpus, "no_overlap_slope")
    assert got["count"].tolist() == [0] * 9

    got, _, _ = _run_query(corpus, "polygons_all_nodata")
    assert got["count"].tolist() == [0, 0]
    assert got["nodata"].tolist() == [75.0, 50.0]

    got, _, _ = _run_query(corpus, "polygons_slope_nodata")
    assert got["count"].tolist() == [39, 31]
    assert got["nodata"].tolist() == [36.0, 19.0]


def test_all_touched_superset(corpus):
    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    d = zonal_stats_df(polys, tiles, datasets, dataset="slope").orderBy("zone_id")
    t = zonal_stats_df(
        polys, tiles, datasets, dataset="slope", all_touched=True
    ).orderBy("zone_id")
    dc = [r["count"] for r in d.collect()]
    tc = [r["count"] for r in t.collect()]
    assert all(b > a for a, b in zip(dc, tc))


def test_zone_func_elementwise(corpus):
    """Elementwise zone_func pre-transform (reference main.py:217-228,
    test_zonal.py:349-368)."""
    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    base = zonal_stats_df(polys, tiles, datasets, dataset="slope").orderBy("zone_id").toPandas()
    plus = zonal_stats_df(
        polys, tiles, datasets, dataset="slope", zone_func=lambda m: m + 2.0
    ).orderBy("zone_id").toPandas()
    zero = zonal_stats_df(
        polys, tiles, datasets, dataset="slope", zone_func=lambda m: m * 0.0
    ).orderBy("zone_id").toPandas()
    assert plus["count"].tolist() == base["count"].tolist()
    # zone_func runs on the native float32 block (as the reference's would
    # on a float32 masked array) → float32 rounding of v+2
    assert plus["mean"].tolist() == pytest.approx(
        [m + 2.0 for m in base["mean"]], rel=1e-6
    )
    assert zero["max"].tolist() == [0.0, 0.0]


def test_sort_merge_join_path(corpus, expected):
    """broadcast_zones=False (SMJ/left-join path) must agree too."""
    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    out = zonal_stats_df(
        polys, tiles, datasets, dataset="slope", broadcast_zones=False
    ).orderBy("zone_id").toPandas()
    assert out["count"].tolist() == [75, 50]


def test_lossy_fmt_psnr_tolerance(corpus):
    """Stats over png/qnt8 payloads track the lossless dataset within the
    PSNR≥40dB quantization tolerance (input_hint invariant)."""
    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    ref = zonal_stats_df(polys, tiles, datasets, dataset="slope").orderBy("zone_id").toPandas()
    for ds in ("slope_png", "slope_qnt8"):
        got = zonal_stats_df(polys, tiles, datasets, dataset=ds).orderBy("zone_id").toPandas()
        assert got["count"].tolist() == ref["count"].tolist()
        for col in ("min", "max", "mean"):
            assert got[col].tolist() == pytest.approx(ref[col].tolist(), rel=5e-2)


def test_caption_phash_join_integrity(corpus):
    """Captions and phash survive the join row-for-row (north_star: caption
    equality per row)."""
    tiles, zones, datasets = corpus
    from python_rasterstats_spark.operators.zonal import (
        collect_dataset_meta, zone_cover_cells,
    )

    meta = collect_dataset_meta(datasets)
    polys = zones.filter(F.col("collection") == "polygons").withColumn(
        "dataset", F.lit("slope")
    )
    cells = zone_cover_cells(polys, meta, clip_to_grid=True)
    joined = cells.join(tiles, ["dataset", "tile_col", "tile_row"]).select(
        "zone_id", "image_id", "caption", "phash", "dataset", "tile_col", "tile_row"
    )
    rows = joined.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["caption"] == f"tile {r['image_id']} of {r['dataset']}"
        assert r["image_id"] == f"{r['dataset']}/{r['tile_col']}_{r['tile_row']}"


def test_multiband_one_pass_matches_per_band(corpus):
    """bands=[1,2] (single decode+rasterize pass) equals two independent
    single-band runs, for scalar and holistic stats alike; zone_func is
    rejected in combination."""
    import pytest as _pytest

    tiles, zones, datasets = corpus
    z = zones.filter(F.col("collection") == "polygons")
    STATS = ["count", "min", "max", "mean", "sum", "median", "percentile_90"]
    multi = {
        (r["zone_id"], r["band"]): r.asDict()
        for r in zonal_stats_df(
            z, tiles, datasets, dataset="slope_bands", bands=[1, 2],
            stats=STATS,
        ).collect()
    }
    for b in (1, 2):
        single = {
            r["zone_id"]: r.asDict()
            for r in zonal_stats_df(
                z, tiles, datasets, dataset="slope_bands", band=b, stats=STATS
            ).collect()
        }
        for zid, want in single.items():
            got = multi[(zid, b)]
            for s in STATS:
                assert got[s] == want[s], (zid, b, s)
    with _pytest.raises(Exception, match="zone_func"):
        zonal_stats_df(
            z, tiles, datasets, dataset="slope_bands", bands=[1, 2],
            stats=["count"], zone_func=lambda m: m,
        ).collect()
    with _pytest.raises(ValueError, match="out of range"):
        zonal_stats_df(z, tiles, datasets, dataset="slope_bands",
                       bands=[1, 3], stats=["count"])


def test_zonal_crosstab_matches_numpy(corpus):
    """Cross-tab vs direct numpy on the mosaicked rasters: per (zone,
    class), count/mean/min/max/sum/std of slope where slope_classes holds
    the class; plan stays SMJ-free with no tile-key exchange."""
    import numpy as np

    from python_rasterstats_spark import geom as G
    from python_rasterstats_spark import kernel as K
    from python_rasterstats_spark.fixtures import build_arrays, build_zones
    from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df
    from python_rasterstats_spark.plans.explain import physical_plan

    tiles, zones, datasets = corpus
    df = zonal_crosstab_df(
        zones.filter(F.col("collection") == "polygons"), tiles, datasets,
        value_dataset="slope", class_dataset="slope_classes",
    )
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning(tile_col" not in plan
    got = {(r["zone_id"], r["class"]): r.asDict() for r in df.collect()}

    arrays = build_arrays()
    slope, aff, nd, _ = arrays["slope"]
    classes, _, cnd, _ = arrays["slope_classes"]
    zs = [z for z in build_zones() if z["collection"] == "polygons"]
    want_keys = set()
    for z in zs:
        win = K.bounds_window(G.geom_bounds(z["geom"]), aff)
        rv = K.rasterize_pixgeom(K.geom_to_pixel(z["geom"], aff), win)
        vb = K.boundless_array(slope, win, nd).astype(np.float64)
        cb = K.boundless_array(classes, win, cnd).astype(np.float64)
        valid = rv & (vb != nd) & (cb != cnd) & ~np.isnan(vb) & ~np.isnan(cb)
        for cls in np.unique(cb[valid]):
            seg = vb[valid & (cb == cls)]
            key = (z["zone_id"], float(cls))
            want_keys.add(key)
            g = got[key]
            assert g["count"] == seg.size
            assert g["min"] == seg.min() and g["max"] == seg.max()
            assert g["mean"] == pytest.approx(seg.mean(), rel=1e-12)
            assert g["std"] == pytest.approx(seg.std(), rel=1e-9)
    assert set(got) == want_keys
