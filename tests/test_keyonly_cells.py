"""Cover-cell tables are KEY-ONLY (r2 verdict 'Next round #1').

Zone WKB must never be stored once per covering tile: the broadcast side
of the cells ⋈ tiles join carries only (zone_id, dataset, tile_col,
tile_row), and geometry ships ONCE per zone via a spark broadcast dict —
so broadcast memory scales with the zone dim, not the cell count. A
1,000+-tile zone with a ~100 KB WKB exercises exactly the regime where
the old per-cell duplication would have blown up (100 MB+ of duplicated
WKB through the broadcast and the kernel Arrow stream; now: one copy).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_rasterstats_spark import codecs as C
from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df
from python_rasterstats_spark.operators.gather import zonal_gather_df
from python_rasterstats_spark.operators.zonal import (
    collect_dataset_meta, collect_zone_rows, zonal_stats_df,
    zone_cover_cells,
)
from python_rasterstats_spark.sources.tables import ZONES_DDL, raster_to_tables


def _assert_wkb_only_in_cells_stage(plan):
    """geometry_wkb may appear ONLY where the zones dim is consumed to
    GENERATE cover cells (one row per zone): the zones scan, its
    projection, and the cells mapInPandas input list. It must never reach
    an Exchange (broadcast or shuffle) nor any downstream stage."""
    for line in plan.splitlines():
        if "geometry_wkb" not in line:
            continue
        assert "Exchange" not in line, line
        ok = (
            "Scan ExistingRDD" in line
            or ("Project" in line and "bytes" not in line)
            or "MapInPandas gen(zone_id" in line  # cells generator input
        )
        assert ok, f"geometry_wkb leaked past the cells stage: {line}"


N = 320  # raster size; tile=8 -> 40x40 = 1600 cover cells for one zone
AFF = (1.0, 0.0, 0.0, 0.0, -1.0, float(N))


def _dense_box(w, s, e, n, pts_per_edge=1250):
    """A rectangle densified to ~5000 vertices => ~80 KB WKB."""
    xs = np.linspace(w, e, pts_per_edge)
    ys = np.linspace(s, n, pts_per_edge)
    ring = (
        [(float(x), s) for x in xs]
        + [(e, float(y)) for y in ys]
        + [(float(x), n) for x in xs[::-1]]
        + [(w, float(y)) for y in ys[::-1]]
    )
    ring.append(ring[0])
    return {"type": "Polygon", "coordinates": [ring]}


@pytest.fixture(scope="module")
def big_corpus(spark):
    rng = np.random.default_rng(11)
    arr = rng.uniform(0, 100, size=(N, N)).astype(np.float32)
    tiles, datasets = raster_to_tables(
        spark, arr, AFF, dataset="big", nodata=-1.0, tile=8
    )
    tiles = tiles.persist()
    tiles.count()
    zone = _dense_box(0.5, 0.5, N - 0.5, N - 0.5)
    wkb = G.wkb_dumps(zone)
    assert len(wkb) > 50_000  # genuinely large geometry
    zones = spark.createDataFrame(
        [{"zone_id": 0, "collection": "t", "geometry_wkb": wkb,
          "geom_type": "Polygon", "properties": {}}],
        schema=ZONES_DDL,
    )
    return arr, zone, zones, tiles, datasets


def test_cells_are_key_only(spark, big_corpus):
    _, _, zones, tiles, datasets = big_corpus
    meta = collect_dataset_meta(datasets)
    z = zones.withColumn("dataset", F.lit("big"))
    cells = zone_cover_cells(z, meta, clip_to_grid=True)
    assert "geometry_wkb" not in cells.columns
    assert cells.count() == 1600
    # geometry ships once per zone: the dict holds ONE wkb
    geoms, _ = collect_zone_rows(z)
    assert len(geoms) == 1
    # SMJ regime opts back in explicitly
    cells_g = zone_cover_cells(z, meta, clip_to_grid=True, with_geometry=True)
    assert "geometry_wkb" in cells_g.columns


def test_no_wkb_column_anywhere_in_broadcast_plan(big_corpus):
    """Structural guarantee: in the broadcast regime no plan node carries
    geometry_wkb at all — not the broadcast exchange, not the kernel-stage
    Arrow stream (the r2 duplication flowed through both)."""
    arr, zone, zones, tiles, datasets = big_corpus
    df = zonal_stats_df(
        zones, tiles, datasets, dataset="big",
        stats=["count", "mean", "median"],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    _assert_wkb_only_in_cells_stage(plan)
    got = df.collect()[0].asDict()
    want = K.zonal_stats_one(
        zone, arr, AFF, nodata=-1.0, stats=["count", "mean", "median"]
    )
    assert got["count"] == want["count"]
    assert got["mean"] == pytest.approx(want["mean"], rel=1e-12)
    assert got["median"] == pytest.approx(want["median"], rel=1e-12)


def test_gather_and_crosstab_plans_key_only(spark, big_corpus):
    arr, zone, zones, tiles, datasets = big_corpus
    gdf = zonal_gather_df(
        zones, tiles, datasets, dataset="big", stats=["count", "mean"],
        add_stats={"ss": lambda m: float((m.compressed() ** 2).sum())},
    )
    plan = gdf._jdf.queryExecution().executedPlan().toString()
    _assert_wkb_only_in_cells_stage(plan)
    got = gdf.collect()[0].asDict()
    want = K.zonal_stats_one(zone, arr, AFF, nodata=-1.0, stats=["count", "mean"])
    assert got["count"] == want["count"]
    assert got["mean"] == pytest.approx(want["mean"], rel=1e-9)

    # crosstab over the same grid (class = value bucketed), with a second
    # zone over a subset of the first zone's tiles
    cls = (arr // 25).astype(np.uint8)
    tc, dc = raster_to_tables(
        spark, cls, AFF, dataset="bigc", nodata=255.0, tile=8
    )
    small = G.box(40.3, 40.3, 200.7, 150.2)
    zones2 = zones.unionByName(spark.createDataFrame(
        [{"zone_id": 1, "collection": "t", "geometry_wkb": G.wkb_dumps(small),
          "geom_type": "Polygon", "properties": {}}],
        schema=ZONES_DDL,
    ))

    def xtab(**kw):
        return zonal_crosstab_df(
            zones2, tiles.unionByName(tc), datasets.unionByName(dc),
            value_dataset="big", class_dataset="bigc", stats=("count", "sum"),
            **kw,
        )

    xdf = xtab()
    xplan = xdf._jdf.queryExecution().executedPlan().toString()
    _assert_wkb_only_in_cells_stage(xplan)
    got = sorted(map(tuple, xdf.collect()))
    # one kernel row per tile key (all 40x40 tiles), not one per
    # (zone, tile) pair: both payloads cross into Python once
    assert _kernel_input_rows(xdf, "vbytes") == 1600
    smj = xtab(broadcast_zones=False)
    assert sorted(map(tuple, smj.collect())) == got
    assert _kernel_input_rows(smj, "vbytes") == 1600
    # numpy differential, every (zone, class): the kernel oracle's masks
    want = []
    for zid, z in ((0, zone), (1, small)):
        block, rv, win, fill = K.prepare_zone(z, arr, AFF, nodata=-1.0)
        cblock, _, _, _ = K.prepare_zone(z, cls, AFF, nodata=255.0)
        valid = rv & (block != fill) & (cblock != 255)
        for c in np.unique(cblock[valid]):
            seg = block[valid & (cblock == c)]
            want.append((zid, float(c), seg.size, float(seg.sum(dtype=np.float64))))
    assert [g[:3] for g in got] == [w[:3] for w in sorted(want)]
    for g, w in zip(got, sorted(want)):
        assert g[3] == pytest.approx(w[3])


def _kernel_input_rows(df, column):
    """Rows into the MapInPandas node whose input has ``column``: the
    output-row metric of the first node below it that counts rows (summed
    over the inputs of a Union), from the executed plan (through AQE and
    query-stage wrappers)."""
    def rows(node):
        while not node.metrics().contains("numOutputRows"):
            if node.getClass().getSimpleName() == "UnionExec":
                kids = node.children()
                return sum(rows(kids.apply(i)) for i in range(kids.size()))
            node = node.children().apply(0)
            if node.getClass().getSimpleName().endswith("QueryStageExec"):
                node = node.plan()
        return node.metrics().apply("numOutputRows").value()

    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        plan = stack.pop()
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(plan.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(plan.plan())
            continue
        if cls == "MapInPandasExec" and column in list(
            plan.child().schema().fieldNames()
        ):
            return rows(plan.child())
        children = plan.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    raise AssertionError(f"no MapInPandas over {column!r} in the plan")


def _px_box(r0, r1, c0, c1):
    """The box over pixel rows r0..r1 and cols c0..c1 (fractional) of AFF."""
    return G.box(c0, N - r1, c1, N - r0)


@pytest.mark.parametrize("all_touched", [False, True])
def test_gather_tile_driven_differential(spark, big_corpus, all_touched):
    """Gather tier on the tile-driven input: two overlapping zones whose
    edges cut through tiles and a third partly off the grid. Each tile
    key crosses into Python once, whatever its zone count; count, mean, a
    plain add_stats and the raster_out mini-rasters match the single-zone
    kernel on the in-memory raster."""
    arr, _, _, tiles, datasets = big_corpus
    geoms = [
        _px_box(19.5, 77.3, 19.5, 77.3),    # tile rows/cols 2..9
        _px_box(52.2, 109.6, 19.5, 77.3),   # rows 6..13: overlaps the first
        _px_box(290.4, 334.6, 290.4, 334.6),  # tiles 36..41: 36 keys, 20 off-grid
    ]
    zones = spark.createDataFrame(
        [{"zone_id": i, "collection": "t", "geometry_wkb": G.wkb_dumps(g),
          "geom_type": "Polygon", "properties": {}}
         for i, g in enumerate(geoms)],
        schema=ZONES_DDL,
    )

    def ss(m):
        return float((m.compressed().astype(np.float64) ** 2).sum())

    df = zonal_gather_df(
        zones, tiles, datasets, dataset="big", stats=["count", "mean"],
        all_touched=all_touched, add_stats={"ss": ss}, raster_out=True,
    )
    got = {r["zone_id"]: r for r in df.collect()}
    # distinct stored tile keys covered: 8x12 for the overlapping pair +
    # the third zone's 4x4 on the grid (its 20 off-grid keys read nothing)
    assert _kernel_input_rows(df, "bytes") == 96 + 16
    assert sorted(got) == [0, 1, 2]
    for zid, g in enumerate(geoms):
        want = K.zonal_stats_one(
            g, arr, AFF, nodata=-1.0, stats=["count", "mean"],
            all_touched=all_touched,
        )
        block, rv, win, fill = K.prepare_zone(
            g, arr, AFF, nodata=-1.0, all_touched=all_touched
        )
        masked = np.ma.MaskedArray(
            block, mask=(block == fill) | np.isnan(block) | ~rv
        )
        r = got[zid]
        assert (r["count"], r["mean"]) == (want["count"], want["mean"])
        assert r["ss"] == ss(masked)
        mr = r["mini_raster"]
        assert bytes(mr["data"]) == C.encode_tile(
            np.ma.filled(masked, fill).astype(np.float32), "npy"
        )
        assert bytes(mr["mask"]) == C.encode_tile(np.ma.getmaskarray(masked), "npy")
        assert tuple(mr["affine"]) == K.window_affine(win, AFF)
    assert got[2]["count"] < (334 - 290) ** 2  # the off-grid part is fill


def test_smj_regime_with_geometry_cells(spark, big_corpus):
    """broadcast_zones=False carries WKB on the cells (the SMJ regime's
    documented trade): crosstab and the boundless-nodata zonal left-join
    path both produce the broadcast plan's exact answer."""
    arr, zone, zones, tiles, datasets = big_corpus
    cls = (arr // 25).astype(np.uint8)
    tc, dc = raster_to_tables(
        spark, cls, AFF, dataset="bigc2", nodata=255.0, tile=8
    )
    all_tiles = tiles.unionByName(tc)
    all_ds = datasets.unionByName(dc)
    kw = dict(value_dataset="big", class_dataset="bigc2",
              stats=("count", "sum", "mean"))
    a = sorted(map(tuple, zonal_crosstab_df(
        zones, all_tiles, all_ds, **kw).collect()))
    b = sorted(map(tuple, zonal_crosstab_df(
        zones, all_tiles, all_ds, broadcast_zones=False, **kw).collect()))
    assert a == b and len(a) > 0

    # zonal SMJ + boundless nodata (plain left join; NULL payloads inline)
    zbig = _dense_box(-20.0, -20.0, N + 20.0, N + 20.0)  # beyond extent
    zdf = spark.createDataFrame(
        [{"zone_id": 7, "collection": "t", "geometry_wkb": G.wkb_dumps(zbig),
          "geom_type": "Polygon", "properties": {}}],
        schema=zones.schema,
    )
    stats = ["count", "nodata", "mean"]
    want = zonal_stats_df(
        zdf, tiles, datasets, dataset="big", stats=stats
    ).collect()[0].asDict()
    got = zonal_stats_df(
        zdf, tiles, datasets, dataset="big", stats=stats,
        broadcast_zones=False,
    ).collect()[0].asDict()
    assert got == want and got["nodata"] > 0 and got["count"] > 0
