"""The one partials→stats tail: fold_partials, streamed over sorted Arrow
batches by fold_sorted_batches, serves the salted pre-merge and the final
merge in both regimes, and zonal_result is shared by zonal_stats_df, the
checkpointed jobs and the incremental state."""

import math
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.codecs import encode_tile
from python_rasterstats_spark.operators import zonal as Z
from python_rasterstats_spark.operators.zonal import (
    fold_partials, fold_sorted_batches, zonal_stats_df,
)
from python_rasterstats_spark.plans.explain import (
    map_in_pandas_inputs, physical_plan,
)
from python_rasterstats_spark.sources.tables import ZONES_DDL, raster_to_tables

AFF = (1.0, 0.0, 0.0, 0.0, -1.0, 16.0)
ND = -1.0
HOLISTIC = ["count", "min", "max", "mean", "sum", "std", "range", "median",
            "majority", "minority", "unique", "nodata", "nan",
            "percentile_10", "percentile_90"]
MOMENTS = {"mean", "sum", "std"}  # float sums: order-dependent rounding
SUMSQ = (
    lambda m: [float((np.asarray(m.compressed(), dtype=np.float64) ** 2).sum())],
    lambda states: states.sum(axis=0),
    lambda s: float(s[0]),
)
USER = {"sumsq": (SUMSQ[1], SUMSQ[2])}


# --------------------------------------------------------------------------
# fold_partials unit: many groups in one call == one group per call
# --------------------------------------------------------------------------

def _partials_frame():
    def row(zid, count, s, si, mn, mx, nd, vals, cnts, u):
        return dict(zone_id=zid, count=count, sum=s, sum_i=si, sumsq=s * 2.0,
                    min=mn, max=mx, nodata_count=nd, nan_count=1,
                    vc_vals=np.asarray(vals, dtype=np.float64),
                    vc_cnts=np.asarray(cnts, dtype=np.int64), u_sumsq=[u])

    rows = [
        # int zone: sum_i on every partial
        row(3, 3, 6.0, 6, 1.0, 3.0, 0, [1, 2, 3], [1, 1, 1], 14.0),
        # float zone: sum_i null on every partial
        row(7, 2, 2.5, None, 0.5, 2.0, 1, [0.5, 2.0], [1, 1], 4.25),
        row(3, 4, 9.0, 9, 2.0, 3.0, 2, [2, 3], [3, 1], 21.0),
        # all-empty zone: only nodata pixels, min/max null, no values
        row(5, 0, 0.0, None, None, None, 4, [], [], 0.0),
        row(7, 1, 4.0, None, 4.0, 4.0, 0, [4.0], [1], 16.0),
        row(5, 0, 0.0, None, None, None, 1, [], [], 0.0),
        row(3, 1, 2.0, 2, 2.0, 2.0, 0, [2], [1], 4.0),
    ]
    return pd.DataFrame(rows)


def _near_distinct_frame(seed=4):
    """_partials_frame's rows with float32 value multisets in the kernel's
    wire form (kernel.wire_vc): mostly distinct values, a few duplicates
    within a partial and across a zone's partials."""
    rng = np.random.default_rng(seed)
    pdf = _partials_frame()
    shared = rng.normal(size=4).astype(np.float32)
    vals, cnts, count = [], [], []
    for zid, n in zip(pdf["zone_id"], pdf["count"]):
        run = np.empty(0, dtype=np.float32)
        if n:
            run = rng.normal(size=4 * n).astype(np.float32)
            run[:2] = run[2]  # a duplicate inside the block
            run[3] = shared[zid % 4]  # and one shared by the zone's blocks
            run.sort()
        v, c = K.wire_vc(*K.run_counts(run))
        vals.append(v.astype(np.float64))
        cnts.append(c)
        count.append(run.size)
    return pdf.assign(vc_vals=vals, vc_cnts=cnts, count=count)


def _assert_wire_rule(states: pd.DataFrame):
    """Merged value-count states take the smaller wire form: a sorted
    multiset with empty counts when n ≤ 2u, else distinct values with
    counts."""
    for v, c in zip(states["vc_vals"], states["vc_cnts"]):
        assert np.all(np.diff(v) >= 0)
        if len(c):
            assert np.all(np.diff(v) > 0) and c.sum() > 2 * len(v)
        else:
            assert len(v) <= 2 * len(np.unique(v))


def _assert_frames_equal(a: pd.DataFrame, b: pd.DataFrame):
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        for x, y in zip(a[c], b[c]):
            if isinstance(x, np.ndarray) or isinstance(y, np.ndarray):
                assert np.array_equal(x, y), c
            elif isinstance(x, dict):
                assert x == y, c
            elif x is None or (isinstance(x, float) and math.isnan(x)):
                assert y is None or (isinstance(y, float) and math.isnan(y)), c
            else:
                assert x == y, c


def _reference_scalars(g: pd.DataFrame) -> dict:
    """Per-group loop reference of the scalar-state fold (A1-A6, A13-A14)."""
    si, mins, maxs = g["sum_i"].dropna(), g["min"].dropna(), g["max"].dropna()
    return {
        "count": int(g["count"].sum()),
        "sum": float(g["sum"].sum()),
        "sum_i": int(si.sum()) if len(si) else None,
        "sumsq": float(g["sumsq"].sum()),
        "min": float(mins.min()) if len(mins) else None,
        "max": float(maxs.max()) if len(maxs) else None,
        "nodata_count": int(g["nodata_count"].sum()),
        "nan_count": int(g["nan_count"].sum()),
    }


@pytest.mark.parametrize("finalize", [True, False])
def test_fold_many_groups_equals_one_group_per_call(finalize):
    pdf = _partials_frame()
    kw = dict(finalize=finalize, pctiles=["percentile_10"], want_vc=True,
              user_merges=USER)
    whole = fold_partials(pdf, ("zone_id",), **kw)
    per = pd.concat(
        [fold_partials(g, ("zone_id",), **kw)
         for _, g in pdf.groupby("zone_id", sort=False)],
        ignore_index=True,
    )
    _assert_frames_equal(whole, per)
    got = whole.set_index("zone_id")
    for zid, g in pdf.groupby("zone_id"):
        for k, v in _reference_scalars(g).items():
            x = got.loc[zid, k]
            if v is None:
                assert x is None or math.isnan(x), (zid, k)
            else:
                assert x == pytest.approx(v, rel=1e-15), (zid, k)
    assert got["count"].to_dict() == {3: 8, 7: 3, 5: 0}
    assert got["sum_i"].to_dict() == {3: 17, 7: None, 5: None}
    assert got.loc[5, "nodata_count"] == 5 and math.isnan(got.loc[5, "min"])
    assert (got.loc[3, "min"], got.loc[3, "max"]) == (1.0, 3.0)
    if finalize:
        assert got.loc[3, "value_counts"] == {1.0: 1, 2.0: 5, 3.0: 2}
        assert got.loc[3, "majority"] == 2.0 and got.loc[3, "unique"] == 3
        assert got.loc[3, "u_sumsq"] == 39.0
        assert pd.isna(got.loc[5, "median"]) and got.loc[5, "value_counts"] is None
    else:
        assert got.loc[3, "vc_vals"].tolist() == [1.0, 2.0, 3.0]
        assert got.loc[3, "vc_cnts"].tolist() == [1, 5, 2]
        # merged states re-fold to the same stats (associativity)
        again = fold_partials(whole, ("zone_id",), **{**kw, "finalize": True})
        ref = fold_partials(pdf, ("zone_id",), **{**kw, "finalize": True})
        _assert_frames_equal(again, ref)


# --------------------------------------------------------------------------
# fold_sorted_batches: groups carried across batch edges == one fold
# --------------------------------------------------------------------------

@pytest.mark.parametrize("finalize", [True, False])
@pytest.mark.parametrize("keys, cuts", [
    # zone 3 = rows 0-2, zone 5 = rows 3-4, zone 7 = rows 5-6: zone 3
    # spans three frames, the second holding only its middle row; an
    # empty frame; zone 7 ends the stream and is flushed only at the end
    (("zone_id",), [1, 2, 2, 4, 6]),
    (("zone_id",), [1, 2, 3, 4, 5, 6]),  # one row per frame
    (("zone_id",), [3, 5]),  # frame edges on group edges
    (("zone_id",), []),  # one frame
    (("zone_id", "_salt"), [1, 2, 3, 4, 5, 6]),
    (("zone_id", "_salt"), [2, 2, 5]),
])
def test_sorted_batches_fold_equals_one_fold(finalize, keys, cuts):
    kw = dict(finalize=finalize, pctiles=["percentile_10"], want_vc=True,
              user_merges=USER)
    for data in (_partials_frame(), _near_distinct_frame()):
        pdf = data.assign(_salt=[0, 1, 0, 0, 1, 1, 0])
        pdf = pdf.sort_values(list(keys), kind="stable", ignore_index=True)
        edges = [0, *cuts, len(pdf)]
        frames = [pdf.iloc[a:b] for a, b in zip(edges, edges[1:])]
        out = list(fold_sorted_batches(iter(frames), keys, **kw))
        assert all(len(o) for o in out)
        whole = fold_partials(pdf, keys, **kw)
        _assert_frames_equal(pd.concat(out, ignore_index=True), whole)
        if not finalize:
            _assert_wire_rule(whole)


def test_sorted_batches_fold_of_nothing():
    empty = _partials_frame().iloc[:0]
    assert list(fold_sorted_batches(iter([]), ("zone_id",), finalize=True)) == []
    assert list(fold_sorted_batches(iter([empty]), ("zone_id",), finalize=True)) == []


# --------------------------------------------------------------------------
# the value-count wire: a block's sorted values, or its (value, count) pairs
# --------------------------------------------------------------------------

def test_continuous_block_ships_its_sorted_values():
    rng = np.random.default_rng(2)
    block = rng.normal(size=(9, 7)).astype(np.float32)
    block[0, :3] = block[4, 4]  # a few duplicates
    cover = rng.random(block.shape) < 0.8
    p = K.partial_stats(block, cover, None, True, wire=True)
    vals, cnts = p["vc_vals"], p["vc_cnts"]
    assert cnts.size == 0 and vals.dtype == np.float32
    assert np.array_equal(vals, np.sort(block[cover]))
    # the oracle and the gather tier still read distinct values + counts
    p = K.partial_stats(block, cover, None, True)
    u, c = np.unique(block[cover], return_counts=True)
    assert np.array_equal(p["vc_vals"], u) and np.array_equal(p["vc_cnts"], c)


def test_duplicate_heavy_block_keeps_value_count_pairs():
    rng = np.random.default_rng(3)
    block = rng.integers(0, 5, size=(12, 12)).astype(np.int16)
    p = K.partial_stats(block, np.ones(block.shape, bool), None, True, wire=True)
    vals, cnts = p["vc_vals"], p["vc_cnts"]
    u, c = np.unique(block, return_counts=True)
    assert np.array_equal(vals, u) and np.array_equal(cnts, c)
    assert cnts.sum() == block.size > 2 * vals.size


WIRE_STATS = ["count", "median", "percentile_25", "percentile_90",
              "majority", "minority", "unique"]


def _kernel_rows(arr, meta, tile, zones, compact_vc):
    """The partial kernel's rows for ``zones`` over ``arr`` cut into
    ``tile``-px npy tiles."""
    geoms = {(zid, "t"): G.wkb_dumps(g) for zid, g in zones.items()}
    keys = [(tc, tr) for tr in range(arr.shape[0] // tile)
            for tc in range(arr.shape[1] // tile)]
    gen, _ = Z.partial_generator(
        meta, cover=SimpleNamespace(value={("t", *k): list(zones) for k in keys}),
        geoms=SimpleNamespace(value=geoms), all_touched=False,
        nodata_override=None, want_counts=True, compact_vc=compact_vc,
    )
    pdf = pd.DataFrame({
        "dataset": "t", "tile_col": [k[0] for k in keys],
        "tile_row": [k[1] for k in keys], "fmt": "npy",
        "bytes": [encode_tile(arr[tr * tile:(tr + 1) * tile,
                                  tc * tile:(tc + 1) * tile], "npy")
                  for tc, tr in keys],
    })
    return pd.concat(list(gen(iter([pdf]))), ignore_index=True)


@pytest.mark.parametrize("compact_vc", [True, False])
def test_zone_mixing_both_wire_forms_folds_to_the_oracle(compact_vc):
    tile = 16
    rng = np.random.default_rng(9)
    arr = rng.normal(size=(2 * tile, 2 * tile)).astype(np.float32)
    arr[:tile, :tile][0, :4] = arr[3, 3]  # continuous, a few duplicates
    arr[:tile, tile:] = rng.integers(0, 4, size=(tile, tile))  # heavy dups
    arr[tile:, tile:] = rng.integers(2, 6, size=(tile, tile))
    arr[tile:, :tile][::3, ::3] = arr[5, 5]  # shared with the first tile
    arr[tile + 2, 1:6] = ND
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, float(2 * tile))
    meta = {"t": {"affine": aff, "height": 2 * tile, "width": 2 * tile,
                  "tile_w": tile, "tile_h": tile, "nodata": ND, "fmt": "npy",
                  "band_count": 1, "dtype": "float32"}}
    zones = {1: G.box(3.0, 3.0, 29.0, 29.0), 2: G.box(1.5, 17.5, 12.0, 30.0),
             3: G.box(18.0, 18.0, 31.0, 31.0)}
    rows = _kernel_rows(arr, meta, tile, zones, compact_vc)

    def decode(v, dtype):
        return np.frombuffer(v, dtype) if isinstance(v, bytes) else np.asarray(v)

    forms = {}
    for zid, v, c in zip(rows["zone_id"], rows["vc_vals"], rows["vc_cnts"]):
        v, c = decode(v, np.float32), decode(c, np.int32)
        assert np.all(np.diff(v) >= 0)
        if len(c):
            assert len(c) == len(v) and np.all(np.diff(v) > 0)
        forms.setdefault(zid, set()).add(bool(len(c)))
    assert forms[1] == {True, False}  # zone 1 mixes both forms
    assert forms[2] == {False} and forms[3] == {True}

    got = fold_partials(
        rows, ("zone_id",), finalize=True,
        pctiles=["percentile_25", "percentile_90"], want_vc=True,
    ).set_index("zone_id")
    for zid, g in zones.items():
        want = K.zonal_stats_one(g, arr, aff, nodata=ND, stats=WIRE_STATS,
                                 categorical=True)
        for s in WIRE_STATS:
            assert got.loc[zid, s] == want[s], (zid, s)
        assert got.loc[zid, "value_counts"] == {
            k: v for k, v in want.items() if not isinstance(k, str)
        }
        # kernel.finalize_stats reads the same rows, one by one
        for _, row in rows[rows["zone_id"] == zid].iterrows():
            v, c = decode(row["vc_vals"], np.float32), decode(row["vc_cnts"], np.int32)
            one = K.finalize_stats({**row, "vc_vals": v, "vc_cnts": c}, WIRE_STATS)
            u, n = np.unique(v, return_counts=True) if not len(c) else (v, c)
            assert one["unique"] == len(u) and one["count"] == n.sum()


def test_majority_picks_the_smallest_value_on_ties():
    def row(vals, cnts):
        return dict(zone_id=1, count=int(np.sum(cnts) if len(cnts) else len(vals)),
                    sum=0.0, sum_i=None, sumsq=0.0, min=0.0, max=9.0,
                    nodata_count=0, nan_count=0,
                    vc_vals=np.asarray(vals, np.float64),
                    vc_cnts=np.asarray(cnts, np.int64))

    # 1.0, 2.0, 5.0 and 6.0 appear three times each, split over both wire
    # forms; 7.0 and 9.0 once each
    rows = [row([5.0, 6.0], [3, 2]), row([2.0, 7.0], []),
            row([1.0, 2.0, 6.0], [2, 2, 1]), row([1.0, 9.0], [])]
    got = fold_partials(pd.DataFrame(rows), ("zone_id",), finalize=True,
                        want_vc=True).iloc[0]
    assert got["value_counts"] == {1.0: 3, 2.0: 3, 5.0: 3, 6.0: 3, 7.0: 1, 9.0: 1}
    assert got["majority"] == 1.0 and got["minority"] == 7.0
    rows[3] = row([9.0], [])  # 1.0 drops to two
    got = fold_partials(pd.DataFrame(rows), ("zone_id",), finalize=True).iloc[0]
    assert got["majority"] == 2.0 and got["minority"] == 7.0


# --------------------------------------------------------------------------
# merge-path parity: broadcast/SMJ × direct/salted == kernel oracle
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def small(spark):
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 6, size=(16, 16)).astype(np.float32)
    arr[2:4, 2:5] = ND
    arr[9, 9:12] = np.nan
    arr[12:16, 0:4] = ND  # zone 4 sees nodata only
    tiles, datasets = raster_to_tables(
        spark, arr, AFF, dataset="d", nodata=ND, tile=4
    )
    geoms = [
        G.box(1.0, 1.0, 9.0, 15.0),
        G.box(6.0, 2.0, 14.0, 10.0),
        G.box(12.0, 12.0, 20.0, 20.0),  # straddles the raster edge
        G.box(30.0, 30.0, 34.0, 34.0),  # outside: empty zone
        G.box(0.2, 0.2, 3.8, 3.8),  # nodata pixels only
    ]
    zones = spark.createDataFrame(
        [{"zone_id": i, "collection": "t", "geometry_wkb": G.wkb_dumps(g),
          "geom_type": g["type"], "properties": {}}
         for i, g in enumerate(geoms)],
        schema=ZONES_DDL,
    )
    return arr, geoms, tiles, datasets, zones


def _oracle(arr, geom):
    want = K.zonal_stats_one(
        geom, arr, AFF, nodata=ND, stats=HOLISTIC, categorical=True
    )
    vc = {k: v for k, v in want.items() if not isinstance(k, str)}
    block, rv, _, fill = K.prepare_zone(geom, arr, AFF, nodata=ND)
    seg = block[rv & (block != fill) & ~np.isnan(block)].astype(np.float64)
    return want, vc, float((seg ** 2).sum())


def _same(a, b, stat, rel=1e-12):
    if a is None or b is None:
        assert a is None and b is None, stat
    elif stat in MOMENTS or stat == "sumsq":
        assert a == pytest.approx(b, rel=rel, abs=1e-12), stat
    else:
        assert a == b, stat


def test_merge_paths_agree_with_oracle(spark, small, pin_salt):
    arr, geoms, tiles, datasets, zones = small
    outs = {}
    # two rows per Arrow batch: zone 0's partials (12 tiles) span several
    # batches of every merge stage, so the fold must carry groups across
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        for broadcast_zones in (True, False):
            for salt in (None, 7):
                pin_salt(salt)
                df = zonal_stats_df(
                    zones, tiles, datasets, dataset="d", stats=HOLISTIC,
                    categorical=True, add_stats={"sumsq": SUMSQ},
                    broadcast_zones=broadcast_zones,
                )
                assert df.columns == (
                    ["zone_id"] + HOLISTIC + ["value_counts", "sumsq"]
                )
                outs[(broadcast_zones, salt)] = {
                    r["zone_id"]: r.asDict() for r in df.collect()
                }
    finally:
        spark.conf.set(conf, old)
    first = outs[(True, None)]
    assert sorted(first) == list(range(len(geoms)))
    assert first[3]["count"] == 0 and first[4]["count"] == 0
    assert first[4]["nodata"] > 0 and first[2]["nodata"] > 0
    for got in outs.values():
        for zid, geom in enumerate(geoms):
            want, vc, sumsq = _oracle(arr, geom)
            row = got[zid]
            for s in HOLISTIC:
                _same(row[s], want[s], s)
                _same(row[s], first[zid][s], s)
            assert dict(row["value_counts"] or {}) == vc
            if want["count"]:
                _same(row["sumsq"], sumsq, "sumsq")


@pytest.mark.parametrize("broadcast_zones", [True, False])
def test_merges_read_a_sort_over_their_key_exchange(
    small, broadcast_zones, pin_salt
):
    """Each merge stage is repartition + sortWithinPartitions + mapInPandas:
    without the Sort, a zone's rows would reach the fold in pieces and
    silently split into several output rows."""
    _, _, tiles, datasets, zones = small
    pin_salt(7)
    df = zonal_stats_df(
        zones, tiles, datasets, dataset="d", stats=["count", "median"],
        broadcast_zones=broadcast_zones,
    )
    df.collect()
    plan = physical_plan(df)
    assert "FlatMapGroupsInPandas" not in plan
    merges = [
        (sort, exch) for cols, sort, exch in map_in_pandas_inputs(plan)
        if "median" in cols or "_salt" in cols
    ]
    assert merges == [
        (["zone_id"], ["zone_id"]), (["zone_id", "_salt"], ["zone_id", "_salt"]),
    ]


# --------------------------------------------------------------------------
# checkpointed jobs finalize through the same tail as zonal_stats_df
# --------------------------------------------------------------------------

CKPT_STATS = ["count", "min", "max", "mean", "sum", "std", "range", "median",
              "majority", "minority", "unique", "nodata", "nan",
              "percentile_10"]


@pytest.mark.parametrize("bucketed", [False, True])
def test_checkpointed_jobs_match_zonal_stats_df(spark, corpus, fixture_dir,
                                                tmp_path, bucketed, monkeypatch):
    from python_rasterstats_spark.plans import lineage
    from python_rasterstats_spark.plans.lineage import (
        checkpointed_zonal, checkpointed_zonal_bucketed,
    )

    # the partials stage runs zonal_stats_df's front half: its tile scan
    # carries the tile-key prune filter
    built, real = [], lineage._zonal_partials
    monkeypatch.setattr(
        lineage, "_zonal_partials",
        lambda *a: built.append(real(*a)) or built[-1],
    )
    tiles, zones, datasets = corpus
    if bucketed:
        got, _ = checkpointed_zonal_bucketed(
            spark, fixture_dir, str(tmp_path / "b"), dataset="slope",
            stats=CKPT_STATS, buckets=3,
        )
    else:
        got, _ = checkpointed_zonal(
            spark, fixture_dir, str(tmp_path / "c"), dataset="slope",
            stats=CKPT_STATS,
        )
    want = zonal_stats_df(zones, tiles, datasets, dataset="slope",
                          stats=CKPT_STATS)
    assert len(built) == (3 if bucketed else 1)
    for df in built:
        scans = [ln for ln in physical_plan(df).splitlines()
                 if "FileScan parquet" in ln and "tiles.parquet" in ln]
        # (plan toString truncates long lines, so match the prefix)
        assert scans and all(
            "PushedFilters" in ln and "tile_col" in ln and "GreaterTha" in ln
            for ln in scans
        ), scans
    assert got.columns == want.columns == ["zone_id"] + CKPT_STATS
    got_rows = {r["zone_id"]: r.asDict() for r in got.collect()}
    want_rows = {r["zone_id"]: r.asDict() for r in want.collect()}
    assert got_rows.keys() == want_rows.keys()
    for zid, w in want_rows.items():
        for s in CKPT_STATS:
            g = got_rows[zid][s]
            assert (g is None) == (w[s] is None), (zid, s)
            if g is not None:
                assert g == pytest.approx(w[s], rel=1e-12), (zid, s)
