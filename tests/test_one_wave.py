"""One wave of Python tasks per broadcast-regime query.

- When its tiles fit one wave at the session's split size, the
  tile-driven kernel stage runs at most ``defaultParallelism`` tasks
  however many splits the tile scan has: broadcast zonal, boundless
  nodata, point query and crosstab. Every result equals the single-node
  kernel oracle.
- A kernel whose tiles span more than one wave of splits keeps one task
  per split's worth of its tiles' payload bytes.
- A broadcast-regime zonal query reads its zones input once, at build:
  the join-back base comes from the rows already collected, keeps a
  duplicated zone_id and the input's zone_id type.
"""

import contextlib
import math
import uuid

import numpy as np
import pytest
from pyspark.sql import types as T

from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df
from python_rasterstats_spark.operators.point import point_query_df
from python_rasterstats_spark.operators.zonal import _kernel_tasks, zonal_stats_df
from python_rasterstats_spark.sources.tables import ZONES_DDL, raster_to_tables

AFF = (1.0, 0.0, 0.0, 0.0, -1.0, 32.0)
ND = -1.0
# Python operator names as they appear in a stage's operation graph
_PYTHON_OPS = ("InPandas", "EvalPython", "InArrow")


def _zones_df(spark, geoms, schema=ZONES_DDL, ids=None):
    ids = range(len(geoms)) if ids is None else ids
    rows = [
        {"zone_id": i, "collection": "t", "geometry_wkb": G.wkb_dumps(g),
         "geom_type": g["type"], "properties": {}}
        for i, g in zip(ids, geoms)
    ]
    return spark.createDataFrame(rows, schema=schema)


@pytest.fixture(scope="module")
def rasters():
    rng = np.random.default_rng(5)
    val = rng.normal(10.0, 3.0, size=(32, 32)).astype(np.float32)
    val[3:6, 20:25] = ND
    cls = rng.integers(1, 4, size=(32, 32)).astype(np.float32)
    return val, cls


@pytest.fixture(scope="module")
def split_tiles(spark, rasters, tmp_path_factory):
    """Both rasters as one parquet tile table in 16 files (4-px tiles)."""
    val, cls = rasters
    tv, dv = raster_to_tables(spark, val, AFF, dataset="v", nodata=ND, tile=4)
    tc, dc = raster_to_tables(spark, cls, AFF, dataset="c", nodata=ND, tile=4)
    path = str(tmp_path_factory.mktemp("one_wave") / "tiles")
    tv.unionByName(tc).repartition(16).write.parquet(path)
    return path, dv.unionByName(dc)


@contextlib.contextmanager
def _split_bytes(spark, n: int):
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.fixture
def many_splits(spark, split_tiles):
    """The tile table read with 1 KiB splits: more scan splits than
    defaultParallelism."""
    with _split_bytes(spark, 1024):
        path, datasets = split_tiles
        tiles = spark.read.parquet(path)
        assert tiles.rdd.getNumPartitions() > spark.sparkContext.defaultParallelism
        yield tiles, datasets


def _runs_python(cluster) -> bool:
    if any(op in cluster.name() for op in _PYTHON_OPS):
        return True
    children = cluster.childClusters()
    return any(_runs_python(children.apply(i)) for i in range(children.size()))


def _in_job_group(spark, action):
    """Run ``action`` under a fresh job group; return its result and the
    ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"one-wave-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _python_stage_tasks(spark, action):
    """Run ``action`` under a fresh job group; return its result and the
    task count of every stage of it that ran a Python operator."""
    sc = spark.sparkContext
    out, jobs = _in_job_group(spark, action)
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    tasks = []
    for job in jobs:
        for sid in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(sid)
            if info is None or not info.numCompletedTasks:
                continue  # skipped: its map output was reused
            if _runs_python(store.operationGraphForStage(sid).rootCluster()):
                tasks.append(info.numCompletedTasks)
    return out, tasks


def _assert_one_wave(spark, tasks):
    assert tasks, "no stage ran a Python operator"
    assert max(tasks) <= spark.sparkContext.defaultParallelism, tasks


ZONE_GEOMS = [
    G.box(1.0, 1.0, 9.0, 9.0),
    G.box(7.3, 12.2, 29.8, 30.6),
    G.wkt_loads("POLYGON ((15 3, 27 5, 22 14, 13 11, 15 3))"),
]


@pytest.mark.parametrize("boundless_nodata", [False, True])
def test_zonal_kernel_one_wave(spark, rasters, many_splits, boundless_nodata):
    tiles, datasets = many_splits
    val, _ = rasters
    geoms = list(ZONE_GEOMS)
    stats = ["count", "min", "max", "sum", "mean"]
    if boundless_nodata:
        geoms.append(G.box(-5.0, 20.0, 6.0, 37.0))  # off the west/north edges
        stats.append("nodata")
    zones = _zones_df(spark, geoms)
    rows, tasks = _python_stage_tasks(spark, lambda: zonal_stats_df(
        zones, tiles, datasets, dataset="v", stats=stats,
    ).collect())
    _assert_one_wave(spark, tasks)
    got = {r["zone_id"]: r.asDict() for r in rows}
    assert sorted(got) == list(range(len(geoms)))
    for zid, g in enumerate(geoms):
        want = K.zonal_stats_one(g, val, AFF, nodata=ND, stats=stats)
        for s in stats:
            assert got[zid][s] == pytest.approx(want[s], rel=1e-12), (zid, s)


def test_point_query_one_wave(spark, rasters, many_splits):
    tiles, datasets = many_splits
    val, _ = rasters
    geoms = [
        G.wkt_loads("MULTIPOINT (2.3 4.7, 17.5 17.5, 30.9 1.2)"),
        G.wkt_loads("LINESTRING (5.5 28.1, 12.2 20.4, 26.8 9.9)"),
    ]
    rows, tasks = _python_stage_tasks(spark, lambda: point_query_df(
        _zones_df(spark, geoms), tiles, datasets, dataset="v",
    ).collect())
    _assert_one_wave(spark, tasks)
    got = sorted((r["zone_id"], r["vertex_idx"], r["value"]) for r in rows)
    want = [
        (zid, vi, v)
        for zid, g in enumerate(geoms)
        for vi, v in enumerate(K.point_query_one(g, val, AFF, nodata=ND))
    ]
    assert [k[:2] for k in got] == [k[:2] for k in want]
    for (_, _, g), (_, _, w) in zip(got, want):
        if w is None:
            assert g is None or math.isnan(g)
        else:
            assert g == pytest.approx(w, rel=1e-12)


def test_crosstab_one_wave(spark, rasters, many_splits):
    tiles, datasets = many_splits
    val, cls = rasters
    stats = ("count", "min", "max", "sum")
    rows, tasks = _python_stage_tasks(spark, lambda: zonal_crosstab_df(
        _zones_df(spark, ZONE_GEOMS), tiles, datasets,
        value_dataset="v", class_dataset="c", stats=stats,
    ).collect())
    _assert_one_wave(spark, tasks)
    got = {(r["zone_id"], r["class"]): r.asDict() for r in rows}
    want = {}
    for zid, g in enumerate(ZONE_GEOMS):
        for c in np.unique(cls):
            # one class at a time: every other class becomes nodata
            one = K.zonal_stats_one(
                g, np.where(cls == c, val, ND), AFF, nodata=ND, stats=stats
            )
            if one["count"]:
                want[(zid, float(c))] = one
    assert sorted(got) == sorted(want)
    for k, w in want.items():
        for s in stats:
            assert got[k][s] == pytest.approx(w[s], rel=1e-12), (k, s)


def test_zonal_reads_zones_once(spark, rasters, split_tiles):
    """The join-back base comes from the rows collected at build: the
    zones input is read once, a duplicated zone_id still yields two rows
    and an IntegerType zone_id stays IntegerType."""
    path, datasets = split_tiles
    tiles = spark.read.parquet(path)
    val, _ = rasters
    geoms = [ZONE_GEOMS[0], ZONE_GEOMS[1], ZONE_GEOMS[1]]
    src = _zones_df(
        spark, geoms, schema=ZONES_DDL.replace("zone_id long", "zone_id int"),
        ids=[0, 1, 1],
    )
    reads = spark.sparkContext.accumulator(0)

    def count_reads(batches):
        for pdf in batches:
            reads.add(len(pdf))
            yield pdf

    zones = src.mapInPandas(count_reads, src.schema)
    df = zonal_stats_df(zones, tiles, datasets, dataset="v", stats=["count", "mean"])
    rows = df.collect()
    assert reads.value == len(geoms)
    assert df.schema["zone_id"].dataType == T.IntegerType()
    assert sorted(r["zone_id"] for r in rows) == [0, 1, 1]
    for r in rows:
        want = K.zonal_stats_one(
            geoms[r["zone_id"]], val, AFF, nodata=ND, stats=["count", "mean"]
        )
        assert r["count"] == want["count"]
        assert r["mean"] == pytest.approx(want["mean"], rel=1e-12)


@pytest.mark.parametrize("split_bytes, want", [(1024, None), (256, 16)])
def test_kernel_tasks_follow_the_kernels_bytes(spark, split_bytes, want):
    """64 float32 4×4 tiles are 4 KiB of payload: 1 KiB splits fit one
    wave (the default parallelism), 256-byte splits need 16 tasks."""
    meta = {"v": {"tile_w": 4, "tile_h": 4, "dtype": "float32"}}
    keys = [("v", c, r) for c in range(8) for r in range(8)]
    with _split_bytes(spark, split_bytes):
        got = _kernel_tasks(spark, keys, meta)
    assert got == (want or spark.sparkContext.defaultParallelism)
