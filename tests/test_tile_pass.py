"""The partial kernel's per-tile pass: all of a tile's zones rasterized in
one scanline fill (kernel.rasterize_many), each zone's block a view of the
decoded tile.

- a zone's slice of the shared-window masks equals the zone rasterized over
  its own sub-window, for every geometry type and both burn rules;
- thousands of zones on one tile are rasterized in chunks under the mask
  budget, and each zone's stats still equal kernel.zonal_stats_one;
- a zone_func that writes into its array cannot leak into the next zone;
- the result tail keeps its output schema (names, types, nullability).
"""

import math
from types import SimpleNamespace

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.codecs import encode_tile
from python_rasterstats_spark.operators import zonal as Z


def _ring(rng, cx, cy, r, n):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.3, 1.0, n)
    pts = [(float(cx + q * np.cos(a)), float(cy + q * np.sin(a)))
           for a, q in zip(ang, rad)]
    return pts + [pts[0]]


def _random_geom(rng):
    cx, cy = rng.uniform(-8, 48, 2)
    kind = rng.integers(0, 6)
    if kind == 0:
        return {"type": "Polygon",
                "coordinates": [_ring(rng, cx, cy, rng.uniform(0.4, 20), rng.integers(3, 10))]}
    if kind == 1:  # with a hole
        return {"type": "Polygon", "coordinates": [
            _ring(rng, cx, cy, 18, 8), _ring(rng, cx, cy, 4, 5)[::-1]]}
    if kind == 2:
        return {"type": "MultiPolygon", "coordinates": [
            [_ring(rng, cx, cy, 6, 6)], [_ring(rng, cx + 14, cy - 3, 4, 4)]]}
    pts = [tuple(map(float, p)) for p in rng.uniform(-8, 48, (rng.integers(2, 5), 2))]
    if rng.random() < 0.3:  # integer and half-integer vertices: ties on cell edges
        pts = [(round(x * 2) / 2, round(y * 2) / 2) for x, y in pts]
    return [
        {"type": "LineString", "coordinates": pts},
        {"type": "MultiLineString", "coordinates": [pts, pts[::-1][:2]]},
        {"type": "MultiPoint", "coordinates": pts},
    ][kind - 3]


@given(st.integers(0, 2**32 - 1), st.booleans())
@settings(max_examples=150, deadline=None)
def test_shared_window_slice_equals_own_window(seed, all_touched):
    rng = np.random.default_rng(seed)
    geoms = [_random_geom(rng) for _ in range(rng.integers(1, 7))]
    r0, c0 = (int(v) for v in rng.integers(-10, 30, 2))
    win = ((r0, r0 + int(rng.integers(1, 45))), (c0, c0 + int(rng.integers(1, 45))))
    many = K.rasterize_many(geoms, win, all_touched)
    cached = K.rasterize_many(geoms, win, all_touched,
                              edges=[K.pixgeom_edges(g) for g in geoms])
    assert many.shape == (len(geoms), win[0][1] - r0, win[1][1] - c0)
    assert np.array_equal(many, cached)
    (wr0, wr1), (wc0, wc1) = win
    for g, mask in zip(geoms, many):
        # a tile cut anywhere inside the shared window
        a = int(rng.integers(wr0, wr1))
        b = int(rng.integers(a + 1, wr1 + 1))
        c = int(rng.integers(wc0, wc1))
        d = int(rng.integers(c + 1, wc1 + 1))
        own = K.rasterize_pixgeom(g, ((a, b), (c, d)), all_touched)
        assert np.array_equal(mask[a - wr0:b - wr0, c - wc0:d - wc0], own)


def test_rasterize_pixgeom_is_the_single_zone_case():
    rng = np.random.default_rng(3)
    g = _random_geom(rng)
    win = ((-4, 30), (2, 40))
    for at in (False, True):
        assert np.array_equal(K.rasterize_pixgeom(g, win, at),
                              K.rasterize_many([g], win, at)[0])
    assert K.rasterize_many([g, g], ((0, 0), (0, 5))).shape == (2, 0, 5)


TILE = 128
AFF = (1.0, 0.0, 0.0, 0.0, -1.0, float(TILE))
ND = -9999.0
STATS = ["count", "min", "max", "mean", "sum", "std", "median", "majority",
         "minority", "unique", "nodata", "nan"]


def _one_tile_raster(seed=5):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 40, (TILE, TILE)).astype(np.float32)
    arr[rng.random((TILE, TILE)) < 0.05] = ND
    arr[rng.random((TILE, TILE)) < 0.03] = np.nan
    meta = {"t": {"affine": AFF, "height": TILE, "width": TILE, "tile_w": TILE,
                  "tile_h": TILE, "nodata": ND, "fmt": "npy", "band_count": 1,
                  "dtype": "float32"}}
    return arr, meta


def _run_kernel(arr, meta, zones, **kw):
    """Partial rows of the kernel body over the one-tile corpus, per zone."""
    geoms = {(zid, "t"): G.wkb_dumps(g) for zid, g in zones.items()}
    gen, _ = Z.partial_generator(
        meta, cover=SimpleNamespace(value={("t", 0, 0): list(zones)}),
        geoms=SimpleNamespace(value=geoms), all_touched=False,
        nodata_override=None, want_counts=True, **kw,
    )
    import pandas as pd

    pdf = pd.DataFrame({"dataset": ["t"], "tile_col": [0], "tile_row": [0],
                        "bytes": [encode_tile(arr, "npy")], "fmt": ["npy"]})
    out = {}
    for part in gen(iter([pdf])):
        for row in part.to_dict("records"):
            assert row["zone_id"] not in out  # one tile → one partial per zone
            out[row["zone_id"]] = row
    return out


def _finalized(row):
    row = dict(row)
    for k in ("min", "max"):
        if isinstance(row[k], float) and math.isnan(row[k]):
            row[k] = None
    return K.finalize_stats(row, STATS)


def _assert_stats_equal(got, want):
    for s in STATS:
        g, w = got[s], want[s]
        if w is None or g is None:
            assert g == w, (s, g, w)
        else:
            assert g == pytest.approx(w, rel=1e-12, abs=1e-9), (s, g, w)


def test_many_zones_on_one_tile_stay_under_the_mask_budget(monkeypatch):
    arr, meta = _one_tile_raster()
    rng = np.random.default_rng(11)
    zones = {}
    for zid in range(5000):
        x, y = rng.uniform(0, TILE - 4.5, 2)  # inside the one stored tile
        w, h = rng.uniform(0.2, 4.0, 2)
        kind = zid % 25
        if kind == 0:
            zones[zid] = {"type": "Point", "coordinates": (x, y)}
        elif kind == 1:
            zones[zid] = {"type": "LineString", "coordinates": [(x, y), (x + w, y + h)]}
        else:
            zones[zid] = G.box(x, y, x + w, y + h)
    calls = []
    stock = K.rasterize_many

    def recording(pgeoms, window, *a, **kw):
        out = stock(pgeoms, window, *a, **kw)
        calls.append(out.size)
        return out

    monkeypatch.setattr(K, "rasterize_many", recording)
    parts = _run_kernel(arr, meta, zones)
    assert max(calls) <= Z._MASK_BUDGET_PX
    assert 1 < len(calls) < len(zones) // 10  # chunks of zones, not one call per zone
    for zid, g in zones.items():
        want = K.zonal_stats_one(g, arr, AFF, nodata=ND, stats=STATS)
        if zid not in parts:
            assert want["count"] == 0 and not want["nodata"] and not want["nan"]
            continue
        _assert_stats_equal(_finalized(parts[zid]), want)


def test_in_place_zone_func_does_not_leak_into_the_next_zone():
    arr, meta = _one_tile_raster(seed=8)

    def double_in_place(a):
        a *= 2  # writes into the array it is given, returns None

    # overlapping zones on the same tile: the second reads pixels the
    # first one's zone_func wrote to, if it was given a view of the tile
    zones = {1: G.box(10, 10, 70, 70), 2: G.box(40, 40, 100, 100),
             3: G.box(0, 0, TILE, TILE)}
    parts = _run_kernel(arr, meta, zones, zone_func=double_in_place)
    for zid, g in zones.items():
        want = K.zonal_stats_one(g, arr, AFF, nodata=ND, stats=STATS,
                                 zone_func=double_in_place)
        _assert_stats_equal(_finalized(parts[zid]), want)


def test_result_tail_schema(corpus):
    """Names, types and nullability of zonal_result's projection."""
    from pyspark.sql import functions as F

    tiles, zones, datasets = corpus
    polys = zones.filter(F.col("collection") == "polygons")
    stats = ["count", "min", "max", "mean", "sum", "std", "range", "median",
             "unique", "percentile_12.5", "nodata", "nan"]
    out = Z.zonal_stats_df(polys, tiles, datasets, dataset="slope",
                           stats=stats, categorical=True)
    got = [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema]
    assert got == [
        ("zone_id", "bigint", True),
        ("count", "bigint", False),
        ("min", "double", True), ("max", "double", True),
        ("mean", "double", True), ("sum", "double", True),
        ("std", "double", True), ("range", "double", True),
        ("median", "double", True), ("unique", "bigint", True),
        ("percentile_12.5", "double", True),
        ("nodata", "double", False), ("nan", "double", False),
        ("value_counts", "map<double,bigint>", True),
    ]
    assert out.count() == polys.count()
