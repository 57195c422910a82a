"""Property-based differential tests.

Hypothesis drives the pure-numpy kernels (cheap per-example); the Spark
pipeline is fuzzed with one batched job of seeded random zones/rasters
compared feature-by-feature against the single-node oracle — the engine
analog of the reference's golden-value strategy generalized to random
inputs (SURVEY.md §5).
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K

coord = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False, width=32)


@st.composite
def polygons(draw):
    """Random simple polygon: jittered star around a center (no self-
    intersection by construction)."""
    cx = draw(st.floats(-100, 100))
    cy = draw(st.floats(-100, 100))
    n = draw(st.integers(3, 12))
    radii = [draw(st.floats(0.5, 40)) for _ in range(n)]
    pts = [
        (cx + r * math.cos(2 * math.pi * i / n), cy + r * math.sin(2 * math.pi * i / n))
        for i, r in enumerate(radii)
    ]
    pts.append(pts[0])
    return {"type": "Polygon", "coordinates": [pts]}


@given(polygons())
@settings(max_examples=60, deadline=None)
def test_wkb_roundtrip_random(poly):
    out = G.wkb_loads(G.wkb_dumps(poly))["coordinates"][0]
    assert [tuple(c) for c in out] == [
        (float(x), float(y)) for x, y in poly["coordinates"][0]
    ]


@given(polygons())
@settings(max_examples=30, deadline=None)
def test_wkt_roundtrip_bounds(poly):
    out = G.wkt_loads(G.wkt_dumps(poly))
    b1, b2 = G.geom_bounds(poly), G.geom_bounds(out)
    assert all(abs(a - b) < 1e-4 for a, b in zip(b1, b2))  # %.10g text trip


@given(
    st.lists(
        st.tuples(st.floats(-50, 50, allow_nan=False), st.integers(1, 9)),
        min_size=1, max_size=40,
    ),
    st.floats(0, 100),
)
@settings(max_examples=100, deadline=None)
def test_weighted_percentile_matches_numpy(pairs, q):
    vals = {}
    for v, c in pairs:
        vals[v] = vals.get(v, 0) + c
    uvals = np.array(sorted(vals), dtype=np.float64)
    cnts = np.array([vals[v] for v in sorted(vals)], dtype=np.int64)
    expanded = np.repeat(uvals, cnts)
    assert K.weighted_percentile(uvals, cnts, q) == pytest.approx(
        np.percentile(expanded, q), rel=1e-12, abs=1e-12
    )


@given(polygons(), st.integers(0, 3))
@settings(max_examples=40, deadline=None)
def test_rasterize_split_invariance(poly, split_seed):
    """Burning any window partition of the plane reassembles to the full
    burn — the tile-seam property on random polygons and random splits."""
    pg = K.geom_to_pixel(poly, (7.0, 0.0, -120.0, 0.0, -7.0, 130.0))
    win = ((0, 40), (0, 40))
    full = K.rasterize_pixgeom(pg, win)
    rng = np.random.default_rng(split_seed)
    rs = sorted({0, 40, int(rng.integers(1, 40)), int(rng.integers(1, 40))})
    cs = sorted({0, 40, int(rng.integers(1, 40)), int(rng.integers(1, 40))})
    parts = np.zeros_like(full)
    for r0, r1 in zip(rs[:-1], rs[1:]):
        for c0, c1 in zip(cs[:-1], cs[1:]):
            parts[r0:r1, c0:c1] = K.rasterize_pixgeom(pg, ((r0, r1), (c0, c1)))
    assert (full == parts).all()


@given(st.integers(0, 10_000))
@settings(max_examples=50, deadline=None)
def test_partial_merge_split_invariance(seed):
    """finalize(merge(partials of any split)) == single-block stats."""
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 9, size=(24, 24)).astype(np.float64)
    arr[rng.random((24, 24)) < 0.15] = -5.0
    cover = rng.random((24, 24)) < 0.7
    whole = K.partial_stats(arr, cover, -5.0, True)

    r = int(rng.integers(1, 23))
    c = int(rng.integers(1, 23))
    parts = []
    for rs, re_ in ((0, r), (r, 24)):
        for cs, ce in ((0, c), (c, 24)):
            parts.append(
                K.partial_stats(arr[rs:re_, cs:ce], cover[rs:re_, cs:ce], -5.0, True)
            )
    merged = {
        "count": sum(p["count"] for p in parts),
        "sum": sum(p["sum"] for p in parts),
        "sumsq": sum(p["sumsq"] for p in parts),
        "min": min((p["min"] for p in parts if p["min"] is not None), default=None),
        "max": max((p["max"] for p in parts if p["max"] is not None), default=None),
        "nodata_count": sum(p["nodata_count"] for p in parts),
        "nan_count": sum(p["nan_count"] for p in parts),
    }
    vc: dict = {}
    for p in parts:
        for v, ct in zip(p["vc_vals"].tolist(), p["vc_cnts"].tolist()):
            vc[v] = vc.get(v, 0) + ct
    merged["vc_vals"] = np.array(sorted(vc), dtype=np.float64)
    merged["vc_cnts"] = np.array([vc[v] for v in sorted(vc)], dtype=np.int64)

    stats = K.VALID_STATS + ["percentile_37.5"]
    a = K.finalize_stats(merged, stats)
    b = K.finalize_stats(whole, stats)
    for s in stats:
        av, bv = a[s], b[s]
        if bv is None:
            assert av is None
        else:
            assert av == pytest.approx(bv, rel=1e-12), s


def test_spark_pipeline_fuzz_vs_oracle(spark, tmp_path):
    """40 seeded random polygons × a random raster through the full
    distributed pipeline vs the single-node oracle, all stats."""
    from pyspark.sql import functions as F

    from python_rasterstats_spark.operators.zonal import zonal_stats_df
    from python_rasterstats_spark.sources.tables import (
        ZONES_DDL, raster_to_tables,
    )

    rng = np.random.default_rng(777)
    arr = rng.normal(20, 6, size=(100, 120)).astype(np.float32)
    arr[rng.random(arr.shape) < 0.07] = -9999.0
    aff = (3.0, 0.0, 500.0, 0.0, -3.0, 800.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="fuzz", nodata=-9999.0, tile=32
    )

    zones = []
    geoms = []
    for i in range(40):
        cx = rng.uniform(450, 900)
        cy = rng.uniform(450, 850)
        n = int(rng.integers(3, 9))
        radii = rng.uniform(5, 120, size=n)
        pts = [
            (cx + r * math.cos(2 * math.pi * k / n),
             cy + r * math.sin(2 * math.pi * k / n))
            for k, r in enumerate(radii)
        ]
        pts.append(pts[0])
        g = {"type": "Polygon", "coordinates": [pts]}
        geoms.append(g)
        zones.append(
            {"zone_id": i, "collection": "fuzz", "geometry_wkb": G.wkb_dumps(g),
             "geom_type": "Polygon", "properties": {}}
        )
    zdf = spark.createDataFrame(zones, schema=ZONES_DDL)

    stats = ("count min max mean sum std median majority minority unique "
             "range nodata nan percentile_12.5 percentile_75").split()
    got = {
        r["zone_id"]: r.asDict()
        for r in zonal_stats_df(
            zdf, tiles, datasets, dataset="fuzz", stats=stats
        ).collect()
    }
    assert len(got) == 40
    mismatches = []
    for i, g in enumerate(geoms):
        want = K.zonal_stats_one(g, arr, aff, nodata=-9999.0, stats=stats)
        for s in stats:
            wv = want[s]
            gv = got[i].get(s)
            gv = None if (gv is None or (isinstance(gv, float) and math.isnan(gv))) else gv
            if wv is None:
                ok = gv is None
            elif s in ("count", "unique", "median", "majority", "minority",
                       "nodata", "nan"):
                ok = gv == wv
            else:
                ok = gv == pytest.approx(wv, rel=1e-6)
            if not ok:
                mismatches.append((i, s, gv, wv))
    assert not mismatches, mismatches[:10]


def test_spark_point_query_fuzz_vs_oracle(spark):
    """120 seeded random points (incl. near-nodata and out-of-extent)
    through the JVM interpolation path vs the numpy kernel, both modes."""
    from pyspark.sql import functions as F

    from python_rasterstats_spark.operators.point import point_query_df
    from python_rasterstats_spark.sources.tables import (
        ZONES_DDL, raster_to_tables,
    )

    rng = np.random.default_rng(4242)
    arr = rng.normal(50, 12, size=(64, 96)).astype(np.float32)
    arr[rng.random(arr.shape) < 0.12] = -9999.0
    aff = (2.0, 0.0, -40.0, 0.0, -2.0, 77.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="pfuzz", nodata=-9999.0, tile=32
    )

    pts = []
    for i in range(120):
        if i % 10 == 0:  # out of extent
            x, y = rng.uniform(500, 900), rng.uniform(500, 900)
        else:
            x = -40.0 + rng.uniform(-5, 96 * 2 + 5)
            y = 77.0 - rng.uniform(-5, 64 * 2 + 5)
        pts.append({"type": "Point", "coordinates": [float(x), float(y)]})
    zones = spark.createDataFrame(
        [
            {"zone_id": i, "collection": "p", "geometry_wkb": G.wkb_dumps(g),
             "geom_type": "Point", "properties": {}}
            for i, g in enumerate(pts)
        ],
        schema=ZONES_DDL,
    )

    for interp in ("bilinear", "nearest"):
        got = {
            r["zone_id"]: r["value"]
            for r in point_query_df(
                zones, tiles, datasets, dataset="pfuzz", interpolate=interp
            ).collect()
        }
        assert len(got) == 120
        bad = []
        for i, g in enumerate(pts):
            want = K.point_query_one(
                g, arr, aff, nodata=-9999.0, interpolate=interp
            )
            have = got[i]
            if want is None:
                ok = have is None or (isinstance(have, float) and math.isnan(have))
            else:
                ok = have is not None and have == pytest.approx(want, rel=1e-12)
            if not ok:
                bad.append((interp, i, have, want))
        assert not bad, bad[:5]


@given(
    st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
             min_size=1, max_size=4000),
    st.integers(min_value=8, max_value=512),
)
@settings(max_examples=60, deadline=None)
def test_sketch_weighted_properties(values, S):
    """For ANY multiset and sketch size: total count, min and max are
    preserved exactly, the output is sorted-unique and ≤S points, and any
    quantile estimated from the summary lies within the true quantiles at
    ±2/S rank offset."""
    import numpy as np

    from python_rasterstats_spark import kernel as K

    vals = np.sort(np.asarray(values, dtype=np.float64))
    cnts = np.ones(vals.size, dtype=np.int64)
    u, inv = np.unique(vals, return_inverse=True)
    m = np.zeros(len(u), dtype=np.int64)
    np.add.at(m, inv, cnts)
    su, sm = K.sketch_weighted(u, m, S)
    assert int(sm.sum()) == vals.size
    assert su[0] == vals[0] and su[-1] == vals[-1]
    assert len(su) <= max(S, len(u)) and (np.diff(su) > 0).all()
    n = vals.size
    for q in (10.0, 50.0, 90.0):
        approx = K.weighted_percentile(su, sm, q)
        dq = 100.0 * 2.0 / S
        lo = np.percentile(vals, max(q - dq, 0.0))
        hi = np.percentile(vals, min(q + dq, 100.0))
        assert lo - 1e-9 <= approx <= hi + 1e-9, (n, S, q)
