"""Unit + differential tests for the pure-numpy kernels.

Mirrors the reference's helper-level suites (tests/test_io.py window math,
tests/test_utils.py stats validation) plus differential checks of the
partial/merge stats protocol against direct numpy on random arrays.
"""

import math

import numpy as np
import pytest

from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K
from python_rasterstats_spark import codecs as C

AFF = (1.0, 0.0, 0.0, 0.0, -1.0, 10.0)  # 1px grid, origin top-left at (0, 10)


# ---------------------------------------------------------------------------
# geometry codecs
# ---------------------------------------------------------------------------

GEOMS = [
    {"type": "Point", "coordinates": [2.5, 3.5]},
    {"type": "LineString", "coordinates": [[0, 0], [4, 3], [9, 1]]},
    {
        "type": "Polygon",
        "coordinates": [
            [[0, 0], [8, 0], [8, 8], [0, 8], [0, 0]],
            [[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]],
        ],
    },
    {"type": "MultiPoint", "coordinates": [[1, 1], [2, 2]]},
    {"type": "MultiLineString", "coordinates": [[[0, 0], [1, 1]], [[2, 2], [3, 1]]]},
    {
        "type": "MultiPolygon",
        "coordinates": [
            [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]],
            [[[5, 5], [7, 5], [7, 7], [5, 7], [5, 5]]],
        ],
    },
]


@pytest.mark.parametrize("g", GEOMS, ids=[g["type"] for g in GEOMS])
def test_wkb_roundtrip(g):
    out = G.wkb_loads(G.wkb_dumps(g))
    assert out["type"] == g["type"]
    assert G.geom_bounds(out) == G.geom_bounds(g)
    assert list(G.geom_vertices(out)) == [
        (float(x), float(y)) for x, y in G.geom_vertices(g)
    ]


@pytest.mark.parametrize("g", GEOMS, ids=[g["type"] for g in GEOMS])
def test_wkt_roundtrip(g):
    out = G.wkt_loads(G.wkt_dumps(g))
    assert out["type"] == g["type"]
    assert list(G.geom_vertices(out)) == [
        (float(x), float(y)) for x, y in G.geom_vertices(g)
    ]


def test_wkt_3d_flattened():
    g = G.wkt_loads("POINT Z (1 2 3)")
    assert g == {"type": "Point", "coordinates": (1.0, 2.0)}


def test_wkb_iso_z_flattened():
    import struct

    # hand-build an ISO WKB Point Z (type code 1001)
    b = b"\x01" + struct.pack("<I", 1001) + struct.pack("<ddd", 1.0, 2.0, 3.0)
    assert G.wkb_loads(b) == {"type": "Point", "coordinates": [1.0, 2.0]}


def test_parse_feature_dispatch():
    f1 = G.parse_feature("POINT (1 2)")
    f2 = G.parse_feature(G.wkb_dumps({"type": "Point", "coordinates": [1, 2]}))
    f3 = G.parse_feature({"type": "Point", "coordinates": [1, 2]})
    f4 = G.parse_feature(
        {"type": "Feature", "properties": {"a": 1}, "geometry": f3["geometry"]}
    )
    for f in (f1, f2, f3):
        assert f["geometry"]["type"] == "Point"
        assert f["properties"] == {}
    assert f4["properties"] == {"a": 1}
    with pytest.raises(ValueError):
        G.parse_feature(42.0)


def test_read_features_polymorphic():
    import json

    geom = {"type": "Point", "coordinates": [1.0, 2.0]}
    fc = {
        "type": "FeatureCollection",
        "features": [{"type": "Feature", "properties": {}, "geometry": geom}],
    }
    for src in (
        geom,
        fc,
        json.dumps(geom),
        json.dumps(fc),
        "POINT (1 2)",
        G.wkb_dumps(geom),
        [geom, geom],
    ):
        feats = list(G.read_features(src))
        assert all(f["geometry"]["type"] == "Point" for f in feats)
    with pytest.raises(ValueError):
        G.read_features(3.14)


# ---------------------------------------------------------------------------
# affine / window math (reference: io.py:149-221, tests/test_io.py:231-256)
# ---------------------------------------------------------------------------


def test_rowcol_and_windows():
    assert K.rowcol(2.3, 7.2, AFF) == (2, 2)
    assert K.rowcol(2.3, 7.2, AFF, op=math.ceil) == (3, 3)
    win = K.bounds_window((2.3, 5.2, 6.1, 7.9), AFF)
    assert win == ((2, 5), (2, 7))
    w, s, e, n = K.window_bounds(win, AFF)
    # roundtrip: bounds_window(window_bounds(w)) == w for cell-aligned bounds
    assert K.bounds_window((w, s, e, n), AFF) == win
    assert K.window_affine(((2, 5), (2, 7)), AFF) == (1.0, 0.0, 2.0, 0.0, -1.0, 8.0)


def test_beyond_extent():
    assert not K.beyond_extent(((0, 5), (0, 5)), (5, 5))
    assert K.beyond_extent(((-1, 5), (0, 5)), (5, 5))
    assert K.beyond_extent(((0, 6), (0, 5)), (5, 5))


def test_boundless_array_matrix():
    # mirrors reference tests/test_io.py:192-228
    arr = np.arange(9.0).reshape(3, 3)
    out = K.boundless_array(arr, ((-1, 4), (-1, 4)), nodata=-99)
    assert out.shape == (5, 5)
    assert out[0, 0] == -99 and out[1, 1] == 0.0 and out[3, 3] == 8.0
    # fully outside
    out = K.boundless_array(arr, ((10, 12), (10, 12)), nodata=-1)
    assert (out == -1).all()
    # masked variant
    out = K.boundless_array(arr, ((-1, 2), (0, 2)), nodata=-1, masked=True)
    assert out.mask[0].all() and not out.mask[1].any()


# ---------------------------------------------------------------------------
# rasterization
# ---------------------------------------------------------------------------


def test_fill_rings_square_center_rule():
    # square covering centers of cols 1..3, rows 1..3 exactly
    rings = [[(0.7, 0.7), (3.8, 0.7), (3.8, 3.8), (0.7, 3.8), (0.7, 0.7)]]
    rv = K._fill_rings(rings, ((0, 5), (0, 5)))
    assert rv.sum() == 9
    assert rv[1:4, 1:4].all()


def test_fill_rings_hole():
    outer = [(0.2, 0.2), (9.8, 0.2), (9.8, 9.8), (0.2, 9.8), (0.2, 0.2)]
    hole = [(3.2, 3.2), (6.8, 3.2), (6.8, 6.8), (3.2, 6.8), (3.2, 3.2)]
    rv = K._fill_rings([outer, hole], ((0, 10), (0, 10)))
    assert not rv[4, 4] and rv[1, 1]
    # even-odd: hole area removed
    # outer covers all 10x10 centers; hole covers centers 3.5..6.5 → 4x4 cells
    assert rv.sum() == 100 - 16


def test_rasterize_tile_seam_consistency():
    """Burning per-tile with global pixel coords == burning the full window."""
    poly = {
        "type": "Polygon",
        "coordinates": [[(1.3, 1.3), (13.7, 2.1), (11.2, 13.9), (2.4, 9.8), (1.3, 1.3)]],
    }
    pg = K.geom_to_pixel(poly, AFF)
    full = K.rasterize_pixgeom(pg, ((-5, 10), (0, 15)))
    # split the window into 4 tiles and reassemble
    parts = np.zeros_like(full)
    for r0, r1 in [(-5, 3), (3, 10)]:
        for c0, c1 in [(0, 8), (8, 15)]:
            sub = K.rasterize_pixgeom(pg, ((r0, r1), (c0, c1)))
            parts[r0 + 5 : r1 + 5, c0:c1] = sub
    assert (full == parts).all()


def test_rasterize_all_touched_superset():
    poly = {
        "type": "Polygon",
        "coordinates": [[(1.3, 1.3), (7.7, 2.1), (6.2, 7.9), (2.4, 6.8), (1.3, 1.3)]],
    }
    pg = K.geom_to_pixel(poly, (1.0, 0, 0, 0, 1.0, 0))
    win = ((0, 10), (0, 10))
    default = K.rasterize_pixgeom(pg, win, all_touched=False)
    touched = K.rasterize_pixgeom(pg, win, all_touched=True)
    assert default.sum() > 0
    assert (touched | default).sum() == touched.sum()  # superset
    assert touched.sum() > default.sum()


def test_rasterize_line_and_supercover():
    line = {"type": "LineString", "coordinates": [(0.5, 0.5), (9.5, 3.5)]}
    pg = K.geom_to_pixel(line, (1.0, 0, 0, 0, 1.0, 0))
    win = ((0, 10), (0, 10))
    default = K.rasterize_pixgeom(pg, win, all_touched=False)
    touched = K.rasterize_pixgeom(pg, win, all_touched=True)
    assert default.sum() >= 10  # 8-connected path spans 10 cols
    assert touched.sum() >= default.sum()
    assert default[0, 0] and default[3, 9]


def test_boxify_points():
    g = {"type": "Point", "coordinates": [2.5, 7.5]}
    boxed = K.boxify_points(g, AFF)
    assert boxed["type"] == "MultiPolygon"
    pg = K.geom_to_pixel(boxed, AFF)
    rv = K.rasterize_pixgeom(pg, ((0, 10), (0, 10)))
    assert rv.sum() == 1 and rv[2, 2]
    with pytest.raises(ValueError):
        K.boxify_points({"type": "LineString", "coordinates": [[0, 0], [1, 1]]}, AFF)


# ---------------------------------------------------------------------------
# stats validation (reference: tests/test_utils.py, test_zonal.py:148-173)
# ---------------------------------------------------------------------------


def test_check_stats():
    stats, rc = K.check_stats(None, False)
    assert stats == ["count", "min", "max", "mean"] and not rc
    stats, rc = K.check_stats("*", False)
    assert set(stats) == set(K.VALID_STATS) and rc
    stats, rc = K.check_stats("count majority", False)
    assert rc
    stats, rc = K.check_stats(None, True)
    assert stats == [] and rc
    with pytest.raises(ValueError):
        K.check_stats("foo", False)
    with pytest.raises(ValueError):
        K.check_stats("percentile_101", False)
    with pytest.raises(ValueError):
        K.check_stats("percentile_-1", False)
    assert K.get_percentile("percentile_13.2") == 13.2


def test_remap_and_key_assoc():
    assert K.remap_categories({1.0: "a"}, {1.0: 5, 2.0: 3}) == {"a": 5, 2.0: 3}
    # first-match tiebreak
    assert K.key_assoc_val({1.0: 5, 2.0: 5}, max) == 1.0
    assert K.key_assoc_val({2.0: 3, 1.0: 3}, min) == 2.0


# ---------------------------------------------------------------------------
# partial/merge/finalize differential vs direct numpy (main.py:230-302)
# ---------------------------------------------------------------------------


def merge_parts(parts):
    vc: dict = {}
    merged = {
        "count": 0,
        "sum": 0.0,
        "sumsq": 0.0,
        "min": None,
        "max": None,
        "nodata_count": 0,
        "nan_count": 0,
    }
    for p in parts:
        merged["count"] += p["count"]
        merged["sum"] += p["sum"]
        merged["sumsq"] += p["sumsq"]
        merged["nodata_count"] += p["nodata_count"]
        merged["nan_count"] += p["nan_count"]
        for key in ("min", "max"):
            if p[key] is not None:
                cur = merged[key]
                merged[key] = (
                    p[key]
                    if cur is None
                    else (min(cur, p[key]) if key == "min" else max(cur, p[key]))
                )
        for v, c in zip(p["vc_vals"].tolist(), p["vc_cnts"].tolist()):
            vc[v] = vc.get(v, 0) + c
    vals = np.array(sorted(vc), dtype=np.float64)
    merged["vc_vals"] = vals
    merged["vc_cnts"] = np.array([vc[v] for v in vals.tolist()], dtype=np.int64)
    return merged


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_partial_merge_matches_direct_numpy(seed):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 12, size=(40, 40)).astype(np.float64)
    arr[rng.random((40, 40)) < 0.1] = -9.0  # nodata
    arr[rng.random((40, 40)) < 0.05] = np.nan
    cover = rng.random((40, 40)) < 0.6

    # direct (reference semantics)
    isnan = np.isnan(arr)
    isnodata = (arr == -9.0) | isnan
    masked = np.ma.MaskedArray(arr, mask=(isnodata | ~cover))
    compressed = masked.compressed()

    # tiled partials merged
    parts = []
    for r0 in range(0, 40, 13):
        for c0 in range(0, 40, 17):
            blk = arr[r0 : r0 + 13, c0 : c0 + 17]
            cov = cover[r0 : r0 + 13, c0 : c0 + 17]
            parts.append(K.partial_stats(blk, cov, -9.0, True))
    merged = merge_parts(parts)
    stats = K.VALID_STATS + ["percentile_25", "percentile_90.5"]
    out = K.finalize_stats(merged, stats)

    assert out["count"] == compressed.size
    assert out["min"] == compressed.min()
    assert out["max"] == compressed.max()
    assert out["mean"] == pytest.approx(compressed.mean(), rel=1e-12)
    assert out["sum"] == pytest.approx(compressed.sum(), rel=1e-12)
    assert out["std"] == pytest.approx(compressed.std(), rel=1e-9)
    assert out["median"] == np.median(compressed)
    assert out["percentile_25"] == pytest.approx(np.percentile(compressed, 25), abs=1e-12)
    assert out["percentile_90.5"] == pytest.approx(
        np.percentile(compressed, 90.5), abs=1e-12
    )
    keys, counts = np.unique(compressed, return_counts=True)
    pixel_count = dict(zip(keys.tolist(), counts.tolist()))
    assert out["majority"] == K.key_assoc_val(pixel_count, max)
    assert out["minority"] == K.key_assoc_val(pixel_count, min)
    assert out["unique"] == len(pixel_count)
    assert out["range"] == compressed.max() - compressed.min()
    assert out["nodata"] == float(((arr == -9.0) & cover).sum())
    assert out["nan"] == float((isnan & cover).sum())


def test_finalize_empty_zone():
    merged = {
        "count": 0,
        "sum": 0.0,
        "sumsq": 0.0,
        "min": None,
        "max": None,
        "nodata_count": 7,
        "nan_count": 0,
        "vc_vals": np.empty(0),
        "vc_cnts": np.empty(0, dtype=np.int64),
    }
    out = K.finalize_stats(merged, ["count", "mean", "nodata", "median"])
    assert out["count"] == 0 and out["mean"] is None and out["median"] is None
    assert out["nodata"] == 7.0


def test_weighted_percentile_even_median():
    # np.median averages middle two for even n (main.py:270-271)
    vals = np.array([1.0, 2.0, 10.0])
    cnts = np.array([1, 1, 2])
    assert K.weighted_percentile(vals, cnts, 50.0) == 6.0
    assert K.weighted_percentile(vals, cnts, 0.0) == 1.0
    assert K.weighted_percentile(vals, cnts, 100.0) == 10.0


# ---------------------------------------------------------------------------
# single-zone oracle end-to-end (golden mini-cases)
# ---------------------------------------------------------------------------


def test_zonal_one_nan_tiny():
    """Inline-array nan case (reference: tests/test_zonal.py:439-452)."""
    arr = np.array([[np.nan, 12.25], [-999.0, 12.75]])
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 2.0)
    poly = G.box(0, 0, 2, 2)
    out = K.zonal_stats_one(
        poly, arr, aff, nodata=-999.0, stats=["nan", "count", "mean"]
    )
    assert out["count"] == 2
    assert out["nan"] == 1.0
    assert out["mean"] == 12.5


def test_zonal_one_nan_counts():
    """Inline 3×3 nan/nodata accounting (reference: tests/test_zonal.py:534-558)."""
    arr = np.array([[np.nan, np.nan, np.nan], [0.0, 0.0, 0.0], [1.0, 4.0, 5.0]])
    aff = (1.0, 0.0, 1.0, 0.0, -1.0, 3.0)
    poly = G.box(1, 0, 4, 3)
    out = K.zonal_stats_one(
        poly, arr, aff, nodata=0.0, stats=["nan", "nodata", "count", "sum"]
    )
    assert out["nan"] == 3.0
    assert out["nodata"] == 3.0
    assert out["count"] == 3
    assert out["sum"] == 10.0


def test_zonal_one_empty_and_boundless():
    arr = np.full((4, 4), 7.0)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 4.0)
    away = G.box(100, 100, 102, 102)  # fully outside
    out = K.zonal_stats_one(away, arr, aff, nodata=-1.0, stats=["count", "mean", "nodata"])
    assert out["count"] == 0 and out["mean"] is None
    assert out["nodata"] == 4.0  # boundless fill counts as nodata in-zone
    with pytest.raises(ValueError):
        K.zonal_stats_one(away, arr, aff, nodata=-1.0, boundless=False)


def test_zonal_one_zone_func():
    arr = np.arange(16.0).reshape(4, 4)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 4.0)
    poly = G.box(0, 0, 4, 4)
    base = K.zonal_stats_one(poly, arr, aff, nodata=-1.0)
    plus2 = K.zonal_stats_one(
        poly, arr, aff, nodata=-1.0, zone_func=lambda m: m + 2
    )
    assert plus2["mean"] == base["mean"] + 2
    assert plus2["count"] == base["count"]
    with pytest.raises(TypeError):
        K.zonal_stats_one(poly, arr, aff, nodata=-1.0, zone_func="nope")


# ---------------------------------------------------------------------------
# point query kernels (reference: tests/test_point.py)
# ---------------------------------------------------------------------------


def test_point_window_unitxy():
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 10.0)
    # point exactly at a cell center: unit coords 0.5, 0.5 area
    win, (ux, uy) = K.point_window_unitxy(2.5, 7.5, aff)
    assert 0.0 <= ux <= 1.0 and 0.0 <= uy <= 1.0


def test_bilinear_identities():
    arr = np.array([[10.0, 20.0], [30.0, 40.0]])
    # corners: unit square corners hit exact cell values (test_point.py:58-69)
    assert K.bilinear(arr, 0.0, 1.0) == 10.0  # UL
    assert K.bilinear(arr, 1.0, 1.0) == 20.0  # UR
    assert K.bilinear(arr, 0.0, 0.0) == 30.0  # LL
    assert K.bilinear(arr, 1.0, 0.0) == 40.0  # LR
    assert K.bilinear(arr, 0.5, 0.5) == 25.0  # center


def test_bilinear_masked_fallback():
    arr = np.ma.MaskedArray(
        [[10.0, 20.0], [30.0, 40.0]], mask=[[True, False], [False, False]]
    )
    # nearest fallback (test_point.py:98-117)
    assert K.bilinear(arr, 0.9, 0.1) == 40.0
    arr2 = np.ma.MaskedArray(arr, mask=True)
    assert K.bilinear(arr2, 0.5, 0.5) is None


def test_point_query_one_nearest_vs_bilinear():
    arr = np.arange(100.0).reshape(10, 10)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 10.0)
    pt = {"type": "Point", "coordinates": [3.5, 6.5]}  # center of cell (3, 3)
    assert K.point_query_one(pt, arr, aff, nodata=-1) == 33.0
    assert K.point_query_one(pt, arr, aff, nodata=-1, interpolate="nearest") == 33.0
    line = {"type": "LineString", "coordinates": [[3.5, 6.5], [4.5, 6.5]]}
    assert K.point_query_one(line, arr, aff, nodata=-1) == [33.0, 34.0]
    outside = {"type": "Point", "coordinates": [-50.0, -50.0]}
    assert K.point_query_one(outside, arr, aff, nodata=-1) is None
    with pytest.raises(ValueError):
        K.point_query_one(pt, arr, aff, interpolate="cubic")


# ---------------------------------------------------------------------------
# codecs
# ---------------------------------------------------------------------------


def test_codec_npy_lossless():
    rng = np.random.default_rng(7)
    arr = rng.normal(size=(33, 17)).astype(np.float32)
    out = C.decode_tile(C.encode_tile(arr, "npy"), "npy")
    assert (out == arr).all() and out.dtype == arr.dtype


def test_codec_png_psnr():
    rng = np.random.default_rng(8)
    arr = (rng.normal(size=(32, 32)) * 10 + 50).astype(np.float32)
    arr[0, 0] = np.nan
    out = C.decode_tile(C.encode_tile(arr, "png"), "png")
    assert np.isnan(out[0, 0])
    assert C.psnr(arr, out) >= 40.0


def test_codec_qnt8_stub():
    rng = np.random.default_rng(9)
    arr = (rng.normal(size=(32, 32)) * 10 + 50).astype(np.float32)
    out = C.decode_tile(C.encode_tile(arr, "qnt8"), "qnt8")
    assert C.psnr(arr, out) >= 40.0
    # truncated/garbage JPEG streams error out instead of decoding junk
    with pytest.raises(Exception):
        C.decode_tile(b"\xff\xd8\xff\xe0fakejpeg", "jpg")


def test_codec_jpeg_real():
    """fmt='jpeg' is a REAL baseline JPEG now (jpegcodec.py): decodable
    roundtrip through the dispatch layer with PSNR over the 40 dB rule,
    float sidecar preserved, and legacy qnt8 bytes under a jpeg tag still
    sniffed correctly."""
    rng = np.random.default_rng(9)
    # spatially-correlated field (realistic raster, not white noise)
    arr = np.cumsum(rng.normal(size=(32, 32)), axis=1).astype(np.float32) + 50
    payload = C.encode_tile(arr, "jpeg")
    assert payload[:3] == b"\xff\xd8\xff"  # genuine JPEG magic
    out = C.decode_tile(payload, "jpeg")
    assert out.dtype == np.float32
    assert C.psnr(arr, out) >= 40.0
    legacy = C.encode_tile(arr, "qnt8")
    out2 = C.decode_tile(legacy, "jpg")  # magic sniff -> qnt8 path
    assert C.psnr(arr, out2) >= 40.0


def test_phash_deterministic():
    rng = np.random.default_rng(10)
    arr = rng.normal(size=(32, 32))
    assert C.phash64(arr) == C.phash64(arr.copy())
    assert C.phash64(arr) != C.phash64(arr * -1 + 3)


def test_quadkey_hierarchy():
    """Morton quadkey: parents are prefixes; distinct cells → distinct keys."""
    seen = set()
    for tc in range(0, 17, 3):
        for tr in range(0, 17, 3):
            qk = K.quadkey(tc, tr)
            assert qk not in seen
            seen.add(qk)
            assert qk >> 2 == K.quadkey(tc // 2, tr // 2)
            assert qk >> 6 == K.quadkey(tc // 8, tr // 8)
    with pytest.raises(ValueError):
        K.quadkey(-1, 0)
