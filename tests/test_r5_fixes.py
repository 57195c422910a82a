"""Round-5 fixes (ADVICE r4 items 2-4 + VERDICT r4 'Next round' 3-5;
item 1, the Morton overflow of a 16-level quadkey, cannot occur since the
code takes every bit of the tile indices — tests/test_prune.py pins the
wide-grid key set):

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
  from the per-zone size estimate; parity corpora stay bit-exact. The
  tests reach the big-zone plans by patching the size threshold
  (zonal._BIG_ZONE_PX) to 0.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_rasterstats_spark import geom as G
from python_rasterstats_spark.operators import zonal as Z
from python_rasterstats_spark.operators.zonal import (
    _coalesce_rects,
    zonal_stats_df,
)
from python_rasterstats_spark.plans.explain import (
    map_in_pandas_inputs,
    physical_plan,
)
from python_rasterstats_spark.sources.tables import (
    features_to_zones,
    raster_to_tables,
)


def _grid(spark, arr):
    """256×256 px / 16×16-tile corpus of ``arr`` + two small zones (y row
    0 at top)."""
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 256.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="g", nodata=-9999.0, tile=16
    )
    wkt_a = "POLYGON ((5 220, 40 220, 40 250, 5 250, 5 220))"
    wkt_b = "POLYGON ((200 10, 250 10, 250 60, 200 60, 200 10))"
    zones = features_to_zones(spark, [wkt_a, wkt_b], dataset="g")
    return arr, tiles, datasets, zones


@pytest.fixture(scope="module")
def grid(spark):
    """A continuous (float32) raster."""
    rng = np.random.default_rng(7)
    return _grid(spark, rng.uniform(0, 100, size=(256, 256)).astype(np.float32))


@pytest.fixture(scope="module")
def int_grid(spark):
    """An integer (int16) raster: a bounded value domain with duplicates."""
    rng = np.random.default_rng(8)
    return _grid(spark, rng.integers(0, 50, size=(256, 256)).astype(np.int16))


@pytest.fixture
def big_zones(monkeypatch):
    """Every zone counts as big: the 'auto' holistic plan leaves the
    parity-scale exact merge."""
    monkeypatch.setattr(Z, "_BIG_ZONE_PX", 0)


def _sorted(df):
    return sorted(map(tuple, df.collect()))


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
    def auto(est_px, want_exact_domain, continuous):
        return Z.holistic_plan(
            "auto", want_holistic=True, want_exact_domain=want_exact_domain,
            est_px=est_px, continuous=continuous, sketch_px=1024,
        )

    exact, salt = (None, None, None), (None, Z._SALT, None)
    sketch = (1024, Z._SALT, 8 * 1024)
    big = 10**9
    assert Z._BIG_ZONE_PX < big
    # parity scale → exact, whatever the stats/dtype
    assert auto(Z._BIG_ZONE_PX, False, True) == exact
    assert auto(0, True, False) == exact
    # huge + quantiles-only + continuous → sketch
    assert auto(big, False, True) == sketch
    # huge + exact domain on a CONTINUOUS raster → plain exact merge: a
    # salted pre-merge cannot collapse a duplicate-free domain, so it
    # only re-serializes the full multiset through a second pandas round
    # (r6: measured 247 s salted vs 51 s exact on the 604 M-px corpus,
    # identical values)
    assert auto(big, True, True) == exact
    # huge integer raster (bounded domain collapses under merge) → salt
    assert auto(big, False, False) == salt
    assert auto(big, True, False) == salt


def test_auto_default_is_exact_at_parity_scale(corpus):
    tiles, zones, datasets = corpus
    z = zones.filter(F.col("collection") == "hd_zones")
    kw = dict(dataset="slope_hd",
              stats=["count", "median", "percentile_25", "unique"])
    default = _sorted(zonal_stats_df(z, tiles, datasets, **kw))
    exact = _sorted(zonal_stats_df(
        z, tiles, datasets, holistic_mode="exact", **kw))
    assert default == exact  # bit-equal: parity corpora never sketch


def test_auto_picks_sketch_past_threshold(corpus, big_zones):
    tiles, zones, datasets = corpus
    z = zones.filter(F.col("collection") == "hd_zones")
    kw = dict(dataset="slope_hd", stats=["count", "median", "percentile_90"],
              sketch_px=256)
    auto = _sorted(zonal_stats_df(z, tiles, datasets, **kw))
    forced = _sorted(zonal_stats_df(
        z, tiles, datasets, holistic_mode="sketch", **kw))
    exact = _sorted(zonal_stats_df(
        z, tiles, datasets, holistic_mode="exact", **kw))
    assert auto == forced  # auto really took the sketch plan
    assert auto != exact   # ...and the sketch is observably not exact here


def _merge_keys(df) -> list:
    """The sort keys of each merge stage in ``df``'s executed plan."""
    return [
        sort for cols, sort, _ in map_in_pandas_inputs(physical_plan(df))
        if "median" in cols or "_salt" in cols
    ]


def test_auto_salts_exact_domain_past_threshold(int_grid, big_zones):
    """Big zones of an INTEGER raster needing the exact domain take the
    salted two-stage exact merge in either regime: a (zone_id, _salt)
    pre-merge under the zone_id merge, with the rows of the plain exact
    merge."""
    _, tiles, datasets, zones = int_grid
    for broadcast_zones in (True, False):
        kw = dict(dataset="g", stats=["count", "median", "unique"],
                  broadcast_zones=broadcast_zones)
        auto = zonal_stats_df(zones, tiles, datasets, **kw)
        got = _sorted(auto)
        assert _merge_keys(auto) == [["zone_id"], ["zone_id", "_salt"]]
        exact = zonal_stats_df(
            zones, tiles, datasets, holistic_mode="exact", **kw)
        want = _sorted(exact)
        assert _merge_keys(exact) == [["zone_id"]]
        assert got == want and got[0][1] > 0


def test_auto_in_smj_regime_uses_sizing_estimate(grid, big_zones):
    _, tiles, datasets, zones = grid
    kw = dict(dataset="g", stats=["count", "median"], sketch_px=256,
              broadcast_zones=False)
    auto = _sorted(zonal_stats_df(zones, tiles, datasets, **kw))
    forced = _sorted(zonal_stats_df(
        zones, tiles, datasets, holistic_mode="sketch", **kw))
    assert auto == forced and auto[0][1] > 0


# --------------------------------------------------------------------------
# VERDICT #4 — the SMJ sizing pass scans the zone table exactly once
# --------------------------------------------------------------------------

def test_smj_sizing_pass_runs_once(grid, monkeypatch):
    _, tiles, datasets, zones = grid
    n_zone_rows = zones.count()
    with monkeypatch.context() as m:
        m.setattr(Z, "_BIG_ZONE_PX", 0)  # force the auto-plan consumer
        out = zonal_stats_df(
            zones, tiles, datasets, dataset="g",
            stats=["count", "mean", "median"],
            broadcast_zones=False,          # SMJ regime
            hybrid_wkb_bytes=1,             # force the hybrid consumer
            prune_tiles=True,               # force the scan-fence consumer
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
