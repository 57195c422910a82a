"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship zonal-statistics query; ``queries()``
exposes every implemented operator (SURVEY.md §2 + the training-pipeline
ops) as (spark, sf_dir) callables; ``oracle_sql()`` gives the DuckDB
equivalents. Zonal/point/tile queries run over the deterministic synthetic
corpus in the BASELINE.json input_hint schema (data/zonal_fixtures,
regenerated on demand by fixtures.ensure_fixtures); document/embedding
queries run over the driver-provided sf tables.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
FIX = os.path.join(REPO, "data", "zonal_fixtures")


def _fixture_corpus(spark: SparkSession):
    from python_rasterstats_spark.fixtures import ensure_fixtures
    from python_rasterstats_spark.sources.tables import load_corpus

    return load_corpus(spark, ensure_fixtures(FIX))


def _zonal(spark, collections, dataset, **kw):
    from python_rasterstats_spark.operators.zonal import zonal_stats_df

    tiles, zones, datasets = _fixture_corpus(spark)
    if isinstance(collections, str):
        collections = [collections]
    return zonal_stats_df(
        zones.filter(F.col("collection").isin(collections)), tiles, datasets,
        dataset=dataset, **kw,
    )


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full-stat zonal statistics of the polygons collection over
    the slope tile corpus, with sf0.001 corpus provenance attached."""
    out = _zonal(
        spark, "polygons", "slope",
        stats="count min max mean sum std median majority minority unique "
              "range nodata nan percentile_25 percentile_90",
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prov = docs.agg(F.count("*").alias("sf_docs"))
    return out.crossJoin(F.broadcast(prov)).orderBy("zone_id")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_zonal_default(spark, sf_dir):
    out = _zonal(spark, "polygons", "slope")
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
    )


def q_zonal_all_stats(spark, sf_dir):
    out = _zonal(
        spark, "polygons", "slope",
        stats="count min max mean sum std median majority minority unique "
              "range nodata nan percentile_25 percentile_90",
    )
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
        F.round("sum", 6).alias("sum_r"),
        F.round("std", 6).alias("std_r"),
        F.round("median", 6).alias("median_r"),
        F.round("majority", 6).alias("majority_r"),
        F.round("minority", 6).alias("minority_r"),
        F.col("unique").alias("uniq"),
        F.round("range", 6).alias("range_r"),
        F.col("nodata").alias("nodata_cnt"),
        F.col("nan").alias("nan_cnt"),
        F.round("percentile_25", 6).alias("p25_r"),
        F.round("percentile_90", 6).alias("p90_r"),
    )


def q_zonal_all_touched(spark, sf_dir):
    out = _zonal(spark, "polygons", "slope", all_touched=True, stats=["count"])
    return out.select("zone_id", F.col("count").alias("cnt"))


def q_zonal_categorical(spark, sf_dir):
    out = _zonal(
        spark, "polygons", "slope_classes", categorical=True, stats=["count"]
    )
    return out.select(
        "zone_id", F.explode("value_counts").alias("val", "cnt")
    ).select("zone_id", "val", "cnt")


def q_zonal_nodata_holes(spark, sf_dir):
    out = _zonal(spark, "polygons", "slope_nodata", stats=["count", "nodata"])
    return out.select(
        "zone_id", F.col("count").alias("cnt"), F.col("nodata").alias("nodata_cnt")
    )


def q_zonal_all_nodata(spark, sf_dir):
    out = _zonal(spark, "polygons", "all_nodata", stats=["count", "nodata"])
    return out.select(
        "zone_id", F.col("count").alias("cnt"), F.col("nodata").alias("nodata_cnt")
    )


def q_zonal_dataset_mask(spark, sf_dir):
    out = _zonal(spark, "polygons", "dataset_mask", stats=["count"])
    return out.select("zone_id", F.col("count").alias("cnt"))


def q_zonal_points(spark, sf_dir):
    out = _zonal(spark, "points", "slope", stats=["count", "mean"])
    return out.select(
        "zone_id", F.col("count").alias("cnt"), F.round("mean", 6).alias("mean_r")
    )


def q_zonal_lines(spark, sf_dir):
    out = _zonal(spark, "lines", "slope", stats=["count", "mean"])
    return out.select(
        "zone_id", F.col("count").alias("cnt"), F.round("mean", 6).alias("mean_r")
    )


def q_zonal_multigeom(spark, sf_dir):
    out = _zonal(
        spark, ["multipolygons", "multilines", "multipoints"], "slope",
        stats=["count"],
    )
    return out.select("zone_id", F.col("count").alias("cnt"))


def q_zonal_overlap_edges(spark, sf_dir):
    out = _zonal(
        spark, ["polygons_partial_overlap", "polygons_no_overlap"], "slope",
        stats=["count"],
    )
    return out.select("zone_id", F.col("count").alias("cnt"))


def q_point_nearest(spark, sf_dir):
    from python_rasterstats_spark.operators.point import point_query_df

    tiles, zones, datasets = _fixture_corpus(spark)
    out = point_query_df(
        zones.filter(F.col("collection") == "query_points"), tiles, datasets,
        dataset="slope", interpolate="nearest",
    )
    return out.select(
        "zone_id",
        F.col("vertex_idx").cast("long").alias("vertex_idx"),
        F.round("value", 6).alias("value_r"),
    )


def q_point_bilinear(spark, sf_dir):
    from python_rasterstats_spark.operators.point import point_query_df

    tiles, zones, datasets = _fixture_corpus(spark)
    out = point_query_df(
        zones.filter(F.col("collection") == "query_points"), tiles, datasets,
        dataset="slope", interpolate="bilinear",
    )
    return out.select(
        "zone_id",
        F.col("vertex_idx").cast("long").alias("vertex_idx"),
        F.round("value", 6).alias("value_r"),
    )


def q_tile_decode_stats(spark, sf_dir):
    from python_rasterstats_spark.functions.multimodal import tile_stats

    tiles, _, _ = _fixture_corpus(spark)
    return tile_stats(tiles)


def q_frame_sample(spark, sf_dir):
    from python_rasterstats_spark.functions.multimodal import frame_sample

    tiles, _, _ = _fixture_corpus(spark)
    return frame_sample(tiles, every=4)


def q_audio_features(spark, sf_dir):
    """Multimodal audio leg: windowed RMS/peak/zero-crossing features over
    opaque PCM16 payloads (real codec — raw PCM needs no external library);
    oracle = committed goldens computed from the raw waveforms."""
    from python_rasterstats_spark.functions.multimodal import (
        audio_window_features,
    )

    audio = spark.read.parquet(os.path.join(FIX, "audio.parquet"))
    out = audio_window_features(audio, win=1024)
    return out.select(
        "clip_id", F.col("win_idx").cast("long").alias("win_idx"),
        "rms_r", "peak", "zc_cnt",
    )


def q_tile_phash_neardup(spark, sf_dir):
    """Perceptual image near-dup pairs over the corpus phash column
    (pigeonhole-exact Hamming LSH — oracle is brute-force all-pairs SQL)."""
    from python_rasterstats_spark.functions.multimodal import phash_neardup

    tiles, _, _ = _fixture_corpus(spark)
    return phash_neardup(tiles, bands=8, radius=6)


def q_scene_cuts(spark, sf_dir):
    """Scene-cut detection: lag + xor + bit_count over per-dataset frame
    sequences (pure JVM window expressions)."""
    from python_rasterstats_spark.functions.multimodal import scene_cuts

    tiles, _, _ = _fixture_corpus(spark)
    return scene_cuts(tiles, threshold=20)


def q_zonal_band2(spark, sf_dir):
    """Band-selected zonal stats (S6 band parity): band 2 of slope_bands is
    exactly 2×slope in float32, so the oracle doubles the slope pixels."""
    out = _zonal(spark, "polygons", "slope_bands", band=2,
                 stats=["count", "min", "max", "mean"])
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
    )


def q_zonal_hd_sketch(spark, sf_dir):
    """Sketch-path zonal quantiles on the high-cardinality continuous float
    corpus (slope_hd: 256×256, ~99% distinct values), holistic_mode='sketch'
    (forced — the size-aware 'auto' default correctly stays exact on this
    parity-scale corpus, but this gate exists to exercise the sketch):
    the exact (value,count) merge would move ~1 pair per pixel, so partials
    emit bounded uniform-rank quantile summaries instead
    (kernel.sketch_weighted). count/min/max stay EXACT under the sketch;
    median/percentiles carry a measured tolerance ≲0.02 on this corpus
    (tests/test_sketch.py asserts the bound and the rounding margin), so
    integer rounding makes the comparison deterministic."""
    out = _zonal(
        spark, "hd_zones", "slope_hd",
        stats=["count", "min", "max", "median",
               "percentile_25", "percentile_90"],
        holistic_mode="sketch", sketch_px=256,
    )
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("median", 0).alias("median_r0"),
        F.round("percentile_25", 0).alias("p25_r0"),
        F.round("percentile_90", 0).alias("p90_r0"),
    )


def q_zonal_crosstab(spark, sf_dir):
    """Zonal cross-tabulation: stats of slope per slope_classes class
    within each polygon zone — a multi-raster composition (both rasters
    aligned by the shared tile grid; neither scan shuffled)."""
    from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df

    tiles, zones, datasets = _fixture_corpus(spark)
    out = zonal_crosstab_df(
        zones.filter(F.col("collection") == "polygons"), tiles, datasets,
        value_dataset="slope", class_dataset="slope_classes",
    )
    return out.select(
        "zone_id", F.col("class").alias("cls"),
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
        F.round("sum", 6).alias("sum_r"),
        F.round("std", 6).alias("std_r"),
    )


def q_zonal_crosstab_smj(spark, sf_dir):
    """Crosstab in the SMJ regime (r5): broadcast_zones=False — WKB rides
    the cells through the tile-key shuffle, bounded by the PERSISTED
    sizing pass (one zones scan feeds hybrid-WKB selection + scan fence,
    crosstab.py). Exactness is regime-independent — oracle shared with
    zonal_crosstab."""
    from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df

    tiles, zones, datasets = _fixture_corpus(spark)
    out = zonal_crosstab_df(
        zones.filter(F.col("collection") == "polygons"), tiles, datasets,
        value_dataset="slope", class_dataset="slope_classes",
        broadcast_zones=False,
    )
    return out.select(
        "zone_id", F.col("class").alias("cls"),
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
        F.round("sum", 6).alias("sum_r"),
        F.round("std", 6).alias("std_r"),
    )


def q_zonal_multiband(spark, sf_dir):
    """One-pass per-band zonal stats (bands=[1,2] over slope_bands: decode
    once, rasterize once, stats per band; band 2 is exactly 2×slope in
    float32 so the oracle doubles the slope pixels)."""
    out = _zonal(
        spark, "polygons", "slope_bands", bands=[1, 2],
        stats=["count", "min", "max", "mean", "median"],
    )
    return out.select(
        "zone_id",
        F.col("band").cast("long").alias("band"),
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
        F.round("median", 6).alias("median_r"),
    )


def q_zonal_gather_addstats(spark, sf_dir):
    """Gather-tier path (per-zone mosaic) with a user add_stats fn whose
    semantics are SQL-expressible (mean of the masked zone)."""
    import numpy as np

    from python_rasterstats_spark.operators.gather import zonal_gather_df

    tiles, zones, datasets = _fixture_corpus(spark)

    def mymean(masked):
        return float(np.ma.mean(masked))

    out = zonal_gather_df(
        zones.filter(F.col("collection") == "polygons"), tiles, datasets,
        dataset="slope", stats=["count"], add_stats={"mymean": mymean},
    )
    return out.select(
        "zone_id", F.col("count").alias("cnt"),
        F.round("mymean", 6).alias("mymean_r"),
    )


def q_zonal_zone_func(spark, sf_dir):
    """A19 elementwise zone_func gate: a tiling-commutative transform
    (x + 2) through the partial path; SQL-expressible as value + 2 cast
    back to float32 (the masked array keeps the raster's native dtype)."""
    out = _zonal(
        spark, "polygons", "slope",
        stats=["count", "min", "max", "mean"],
        zone_func=lambda m: m + 2.0,
    )
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
    )


def q_zonal_raster_out(spark, sf_dir):
    """A20 raster_out gate: gather-tier mini-rasters digested to payload
    md5s + window affine; oracle = committed prepare_zone goldens
    (independent single-array path, fixtures.write_oracles)."""
    from python_rasterstats_spark.operators.gather import zonal_gather_df

    tiles, zones, datasets = _fixture_corpus(spark)
    out = zonal_gather_df(
        zones.filter(F.col("collection") == "polygons"), tiles, datasets,
        dataset="slope", stats=["count"], raster_out=True,
    )
    mr = F.col("mini_raster")
    cols = [
        F.col("zone_id"),
        F.md5(mr["data"]).alias("data_md5"),
        F.md5(mr["mask"]).alias("mask_md5"),
    ]
    for i, c in enumerate("abcdef"):
        cols.append(F.round(F.element_at(mr["affine"], i + 1), 6).alias(f"aff_{c}"))
    cols.append(mr["nodata"].alias("nodata"))
    return out.select(*cols)


def q_zonal_api_surface(spark, sf_dir):
    """A16 category_map + A21 prefix through the full rasterstats-parity
    API (gen_zonal_stats -> dicts), re-tabularized as (zone_id, key, val):
    remapped categorical keys get the prefix, unmapped float keys pass
    through stringified — reference utils.py:106-114 + main.py:335-337."""
    from python_rasterstats_spark import api
    from python_rasterstats_spark import geom as G

    tiles, zones, datasets = _fixture_corpus(spark)
    feats = [
        {"type": "Feature", "properties": {},
         "geometry": G.wkb_loads(bytes(r["geometry_wkb"]))}
        for r in zones.filter(F.col("collection") == "polygons")
                      .orderBy("zone_id").collect()
    ]
    raster = api.TileRaster(tiles, datasets, "slope_classes")
    res = api.zonal_stats(
        feats, raster, stats=["count"], categorical=True,
        category_map={1.0: "low"}, prefix="zs_", spark=spark,
    )
    rows = []
    for zid, d in enumerate(res):
        for k, v in d.items():
            rows.append((zid, str(k), int(v)))
    return spark.createDataFrame(rows, "zone_id long, key string, val long")


def q_event_sessions(spark, sf_dir):
    from python_rasterstats_spark.streaming.sessions import sessionize

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = sessionize(events, gap="30 minutes")
    return out.select(
        "user_id",
        # events.ts is TIMESTAMP_NTZ; session tz is UTC so this matches
        # DuckDB's epoch() on the naive timestamp
        F.col("first_ts").cast("timestamp").cast("long").alias("first_s"),
        F.col("last_ts").cast("timestamp").cast("long").alias("last_s"),
        "n_events",
        "sum_value",
    )


def q_event_windows(spark, sf_dir):
    """§2.7 tumbling-window aggregation (batch twin of the streaming
    window operator): per-user hourly event counts + value sums."""
    from python_rasterstats_spark.streaming.sessions import tumbling_counts

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = tumbling_counts(events, width="1 hour")
    return out.select(
        "user_id",
        F.col("w_start").cast("timestamp").cast("long").alias("w_start_s"),
        "n_events", "sum_value",
    )


def q_zonal_topk(spark, sf_dir):
    """§2.5 window/sort/limit over engine output: top-5 overlap-edge zones
    by mean (row_number window, ties by zone_id)."""
    from pyspark.sql import Window

    out = _zonal(
        spark, ["polygons_partial_overlap"], "slope", stats=["count", "mean"]
    )
    w = Window.orderBy(F.col("mean").desc(), F.col("zone_id"))
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "zone_id", F.col("rank").cast("long").alias("rank"),
            F.col("count").alias("cnt"), F.round("mean", 6).alias("mean_r"),
        )
    )


def q_zonal_smj(spark, sf_dir):
    """SMJ-regime gate (r3): the zone set is declared too large to
    broadcast/collect (broadcast_zones=False), so cover cells carry their
    WKB through the tile-key shuffle and the join falls back to
    shuffle-based strategies. Same answer as the broadcast plan — the
    oracle is shared with zonal_default."""
    out = _zonal(spark, "polygons", "slope", broadcast_zones=False)
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
    )


def q_zonal_smj_holistic(spark, sf_dir):
    """SMJ regime × holistic merge gate (r5): broadcast_zones=False with
    the FULL stat set — the persisted sizing pass feeds the hybrid-WKB
    selection, the collect-free scan fence AND the size-aware auto
    holistic plan in one zones scan, then the exact (value,count) merge
    runs downstream of the tile-key shuffle. Exactness is regime-
    independent, so the oracle is shared with zonal_all_stats."""
    out = _zonal(
        spark, "polygons", "slope",
        stats="count min max mean sum std median majority minority unique "
              "range nodata nan percentile_25 percentile_90",
        broadcast_zones=False,
    )
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
        F.round("sum", 6).alias("sum_r"),
        F.round("std", 6).alias("std_r"),
        F.round("median", 6).alias("median_r"),
        F.round("majority", 6).alias("majority_r"),
        F.round("minority", 6).alias("minority_r"),
        F.col("unique").alias("uniq"),
        F.round("range", 6).alias("range_r"),
        F.col("nodata").alias("nodata_cnt"),
        F.col("nan").alias("nan_cnt"),
        F.round("percentile_25", 6).alias("p25_r"),
        F.round("percentile_90", 6).alias("p90_r"),
    )


def q_zonal_qk_part_prune(spark, sf_dir):
    """Quad-prefix PARTITIONED storage gate (r5): tiles are persisted by
    write_quadkey_partitioned_tiles (qk_prefix directories + quadkey-
    sorted, sized row groups), so the scan prunes at THREE levels —
    directory listing (PartitionFilters on qk_prefix), row-group min-max
    and bloom filter (quadkey), residual row filter. Pruning is a strict superset filter,
    so the answer equals zonal_default — shared oracle."""
    import tempfile

    from python_rasterstats_spark.fixtures import ensure_fixtures
    from python_rasterstats_spark.operators.zonal import zonal_stats_df
    from python_rasterstats_spark.sources.tables import (
        load_corpus, write_quadkey_partitioned_tiles,
    )

    tiles, zones, datasets = load_corpus(spark, ensure_fixtures(FIX))
    path = os.path.join(tempfile.gettempdir(), "prs_gate_qk_part")
    write_quadkey_partitioned_tiles(tiles, datasets, path)
    out = zonal_stats_df(
        zones.filter(F.col("collection") == "polygons"),
        spark.read.parquet(path), datasets, dataset="slope",
    )
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
    )


def q_zonal_geotiff_ingest(spark, sf_dir):
    """Distributed GeoTIFF ingestion gate (r5): the fixture slope raster
    is written as GeoTIFF FILES (tiffcodec.write_geotiff), ingested with
    the binaryFile → executor-side decode → tiling pipeline
    (sources/geotiff.geotiffs_to_tables — no driver decode), and zonal
    stats over the ingested corpus must equal zonal_default (shared
    oracle): the file-corpus scan path is end-to-end oracle-checked."""
    import tempfile

    from python_rasterstats_spark.fixtures import build_arrays, ensure_fixtures
    from python_rasterstats_spark.operators.zonal import zonal_stats_df
    from python_rasterstats_spark.sources.geotiff import geotiffs_to_tables
    from python_rasterstats_spark.sources.tables import load_corpus
    from python_rasterstats_spark.tiffcodec import write_geotiff

    arrays = build_arrays()
    d = os.path.join(tempfile.gettempdir(), "prs_gate_geotiff")
    os.makedirs(d, exist_ok=True)
    for name in ("slope", "slope_classes"):
        arr, aff, nodata, _fmt = arrays[name]
        write_geotiff(os.path.join(d, f"{name}.tif"), arr, aff, nodata=nodata)
    tiles, datasets = geotiffs_to_tables(spark, d, tile=16)
    _, zones, _ = load_corpus(spark, ensure_fixtures(FIX))
    out = zonal_stats_df(
        zones.filter(F.col("collection") == "polygons"),
        tiles, datasets, dataset="slope",
    )
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
    )


def q_zonal_gpkg_zones(spark, sf_dir):
    """Vector-FILE path gate (r5): the fixture polygons round-trip
    through a GeoPackage on disk (gpkgcodec write → api zonal_stats with
    the .gpkg PATH as vectors — the reference's io.py:94-109 path branch,
    GDAL-free), raster = the fixture corpus. Equals zonal_default
    (shared oracle)."""
    import tempfile

    from python_rasterstats_spark import geom as G
    from python_rasterstats_spark.api import TileRaster, zonal_stats
    from python_rasterstats_spark.fixtures import ensure_fixtures
    from python_rasterstats_spark.gpkgcodec import write_geopackage
    from python_rasterstats_spark.sources.tables import load_corpus

    tiles, zones, datasets = load_corpus(spark, ensure_fixtures(FIX))
    zrows = (
        zones.filter(F.col("collection") == "polygons")
        .orderBy("zone_id").collect()
    )
    feats = [
        {"type": "Feature",
         "properties": {"zid": int(r["zone_id"])},
         "geometry": G.wkb_loads(bytes(r["geometry_wkb"]))}
        for r in zrows
    ]
    path = os.path.join(tempfile.gettempdir(), "prs_gate_zones.gpkg")
    if os.path.exists(path):
        os.unlink(path)
    write_geopackage(path, {"polygons": feats})
    stats = zonal_stats(
        path, TileRaster(tiles, datasets, "slope"), spark=spark,
    )
    rows = [
        (int(r["zone_id"]), int(s["count"]),
         round(float(s["min"]), 6), round(float(s["max"]), 6),
         round(float(s["mean"]), 6))
        for r, s in zip(zrows, stats)
    ]
    return spark.createDataFrame(
        rows, "zone_id long, cnt long, min_r double, max_r double, "
        "mean_r double"
    )


def q_zonal_addstats_scalable(spark, sf_dir):
    """Scalable add_stats protocol (SURVEY §2.4 A18): a user sum-of-squares
    stat as a (partial, merge, finalize) triple running on the distributed
    partial/merge path — no per-zone mosaic task."""
    import numpy as np

    sumsq = (
        lambda m: [float(
            (np.asarray(m.compressed(), dtype=np.float64) ** 2).sum()
        )],
        lambda states: states.sum(axis=0),
        lambda s: float(s[0]),
    )
    out = _zonal(
        spark, "polygons", "slope", stats=["count"],
        add_stats={"sumsq": sumsq},
    )
    return out.select(
        "zone_id", F.col("count").alias("cnt"),
        F.round("sumsq", 6).alias("sumsq_r"),
    )


def q_cli_zonalstats(spark, sf_dir):
    """CLI surface gate (§2.9): run `zonalstats --sequence` IN-PROCESS over
    the fixture corpus, parse the emitted GeoJSON-sequence lines back into
    rows. Closes the last pytest-only §2 surface: the full CLI pipeline
    (feature parsing → engine → JSON sink) is now oracle-gated."""
    import contextlib
    import io
    import json
    import tempfile

    from python_rasterstats_spark import geom as G

    from python_rasterstats_spark import cli

    tiles, zones, datasets = _fixture_corpus(spark)
    feats = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"idx": int(r["zone_id"])},
             "geometry": G.wkb_loads(bytes(r["geometry_wkb"]))}
            for r in zones.filter(F.col("collection") == "polygons")
                          .orderBy("zone_id").collect()
        ],
    }
    with tempfile.NamedTemporaryFile("w", suffix=".geojson", delete=False) as f:
        json.dump(feats, f)
        path = f.name
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main([
            "zonalstats", path, "--corpus", FIX, "--dataset", "slope",
            "--stats", "count min max mean", "--sequence",
        ])
    os.unlink(path)
    assert rc == 0
    rows = []
    for i, line in enumerate(l for l in buf.getvalue().splitlines() if l):
        props = json.loads(line)["properties"]
        rows.append((i, int(props["_count"]), float(props["_min"]),
                     float(props["_max"]), float(props["_mean"])))
    df = spark.createDataFrame(
        rows, "zone_id long, cnt long, min double, max double, mean double"
    )
    return df.select(
        "zone_id", "cnt",
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
    )


def q_cli_pointquery(spark, sf_dir):
    """CLI pointquery gate (§2.9, reference cli.py:88-131): run
    `pointquery --interpolate bilinear --sequence` IN-PROCESS over the
    fixture query points, parse the GeoJSON-sequence lines back into
    (zone_id, vertex_idx, value) rows — same oracle as point_bilinear.
    With cli_zonalstats this oracle-gates the WHOLE CLI surface."""
    import contextlib
    import io
    import json
    import tempfile

    from python_rasterstats_spark import cli
    from python_rasterstats_spark import geom as G

    tiles, zones, datasets = _fixture_corpus(spark)
    zrows = (
        zones.filter(F.col("collection") == "query_points")
        .orderBy("zone_id")
        .collect()
    )
    feats = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {},
             "geometry": G.wkb_loads(bytes(r["geometry_wkb"]))}
            for r in zrows
        ],
    }
    with tempfile.NamedTemporaryFile("w", suffix=".geojson", delete=False) as f:
        json.dump(feats, f)
        path = f.name
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main([
            "pointquery", path, "--corpus", FIX, "--dataset", "slope",
            "--interpolate", "bilinear", "--sequence",
        ])
    os.unlink(path)
    assert rc == 0
    rows = []
    for i, line in enumerate(l for l in buf.getvalue().splitlines() if l):
        val = json.loads(line)["properties"]["value"]
        vals = val if isinstance(val, list) else [val]
        zid = int(zrows[i]["zone_id"])
        for vi, v in enumerate(vals):
            rows.append((zid, vi, None if v is None else float(v)))
    df = spark.createDataFrame(
        rows, "zone_id long, vertex_idx long, value double"
    )
    return df.select(
        "zone_id", "vertex_idx", F.round("value", 6).alias("value_r")
    )


def q_doc_dedup_exact(spark, sf_dir):
    from python_rasterstats_spark.functions.dedup import exact_dups

    return exact_dups(_docs(spark, sf_dir))


def q_doc_dedup_keep(spark, sf_dir):
    from python_rasterstats_spark.functions.dedup import dedup_keep

    out = dedup_keep(_docs(spark, sf_dir))
    return out.select("doc_id", "n_chars", F.md5("text").alias("text_md5"))


def q_doc_token_stats(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import token_stats

    out = token_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("token_cnt").cast("long").alias("token_cnt"),
        F.col("uniq_token_cnt").cast("long").alias("uniq_token_cnt"),
        "avg_token_len",
    )


def q_doc_quality(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import quality_scores

    out = quality_scores(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_chars",
        F.col("word_cnt").cast("long").alias("word_cnt"),
        F.col("stop_cnt").cast("long").alias("stop_cnt"),
        "stop_ratio", "distinct_ratio", "quality_bucket",
    )


def q_doc_langid(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_doc_subword_stats(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import subword_stats

    out = subword_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("subword_cnt").cast("long").alias("subword_cnt"),
        F.col("uniq_subword_cnt").cast("long").alias("uniq_subword_cnt"),
        F.col("punct_cnt").cast("long").alias("punct_cnt"),
    )


def q_doc_winnow(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=5, w=4)


def q_doc_ngram_jaccard(spark, sf_dir):
    from python_rasterstats_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.4)


def q_doc_seq_pack(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import sequence_pack

    out = sequence_pack(_docs(spark, sf_dir), budget=256, buckets=8)
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        "bin_id",
        F.col("n_docs").cast("long").alias("n_docs"),
        "tok_sum", "first_doc", "last_doc",
    )


def q_doc_tfidf(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import tfidf_top_terms

    out = tfidf_top_terms(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "top_term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "score_r",
    )


def q_doc_contamination(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import contamination_check

    out = contamination_check(_docs(spark, sf_dir), n=5)
    return out.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        "n_overlap", "contam_ratio_r", "contaminated",
    )


def q_doc_pii_scrub(spark, sf_dir):
    from python_rasterstats_spark.functions.textops import pii_scrub

    return pii_scrub(_docs(spark, sf_dir))


def q_ann_cosine(spark, sf_dir):
    from python_rasterstats_spark.functions.similarity import cosine_neighbors

    return cosine_neighbors(_emb(spark, sf_dir), query_max_id=5, threshold=0.25)


def q_ann_cosine_topk(spark, sf_dir):
    from python_rasterstats_spark.functions.similarity import cosine_topk

    out = cosine_topk(_emb(spark, sf_dir), query_max_id=5, k=5)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "cos_r"
    )


def q_emb_neardup(spark, sf_dir):
    from python_rasterstats_spark.functions.dedup import embedding_neardup

    return embedding_neardup(
        _emb(spark, sf_dir), threshold=0.35, query_max_id=50
    )


def q_emb_neardup_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: multiband hyperplane LSH bucket
    join + exact cosine rescore. Oracle = the same brute-force SQL as
    emb_neardup — valid because recall is 1.0 at (bands=32, rplanes=3) on
    this corpus (asserted in tests) and the rescore is exact."""
    from python_rasterstats_spark.functions.dedup import embedding_neardup_lsh

    return embedding_neardup_lsh(
        _emb(spark, sf_dir), threshold=0.35, query_max_id=50
    )


def q_doc_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-ball pairs via bit-band buckets: radius < bands ⇒
    pigeonhole guarantees the EXACT brute-force result set, so the oracle
    recomputes all-pairs Hamming from the committed simhash parquet."""
    from python_rasterstats_spark.functions.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir), bands=8, radius=3)


def q_doc_minhash_lsh(spark, sf_dir):
    from python_rasterstats_spark.functions.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_docs(spark, sf_dir), n=3, k=32, bands=8)


def q_doc_simhash(spark, sf_dir):
    from python_rasterstats_spark.functions.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def q_ann_lsh(spark, sf_dir):
    from python_rasterstats_spark.functions.similarity import lsh_ann

    return lsh_ann(_emb(spark, sf_dir), nplanes=8, query_max_id=5, threshold=0.25)


def q_doc_neardup_groups(spark, sf_dir):
    """Near-dup GROUP materialization: connected components of the simhash
    pair graph, each node labeled with its cluster's canonical keeper
    (min doc_id) — the keep/drop decision a dedup pipeline actually needs.
    Oracle: DuckDB recursive CTE over the same committed-simhash pair set
    (an independent transitive-closure implementation)."""
    from python_rasterstats_spark.functions.dedup import (
        neardup_groups, simhash_pairs,
    )

    pairs = simhash_pairs(_docs(spark, sf_dir), bands=8, radius=3)
    return neardup_groups(pairs)


def q_doc_dedup_pipeline(spark, sf_dir):
    """End-to-end near-dup dedup PIPELINE (r4 integration gate): simhash
    pairs → connected components (pointer-jumping neardup_groups) → drop
    every non-keeper → the surviving corpus. This is the composition a
    training-data pipeline actually runs; gating it end-to-end pins the
    seams between the three operators, not just each one alone. Oracle:
    DuckDB recursive-CTE closure over the committed independent-XXH64
    simhash table, anti-joined against the documents view."""
    from python_rasterstats_spark.functions.dedup import (
        neardup_groups, simhash_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = simhash_pairs(docs, bands=8, radius=3)
    groups = neardup_groups(pairs)
    drop = groups.filter(F.col("doc_id") != F.col("keeper_id")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "n_chars")


def q_tile_quadkey(spark, sf_dir):
    """Explicit quadkey tiling scheme (north_star): Morton-interleaved
    cell ids for every tile, parents as bit prefixes — computed with JVM
    bit expressions, oracled by the same bit arithmetic in DuckDB."""
    from python_rasterstats_spark.sources.tables import with_quadkey

    tiles, _, _ = _fixture_corpus(spark)
    out = with_quadkey(tiles)
    return out.select(
        "dataset", "tile_col", "tile_row", "quadkey",
        F.shiftright("quadkey", 2).alias("parent_qk"),
    )


def q_ann_ivf(spark, sf_dir):
    """IVF ANN (inverted lists from a spherical k-means coarse quantizer,
    per-query nprobe list probing + exact rescore). Gated at
    nprobe == ncentroids, where IVF is exhaustive by construction — the
    result must EQUAL brute force (shared oracle); recall at lower nprobe
    is asserted in pytest."""
    from python_rasterstats_spark.functions.similarity import ivf_ann

    return ivf_ann(
        _emb(spark, sf_dir), ncentroids=8, nprobe=8,
        query_max_id=5, threshold=0.25,
    )


def q_zonal_qk_prune(spark, sf_dir):
    """Quadkey scan pruning gate (r4): the tile table carries a quadkey
    column (sources/tables.with_quadkey: the Morton code of every bit of
    the tile indices — the key of the quadkey-sorted storage layout), so
    zonal_stats_df's scan fence pushes a sparse zone set's exact quadkey
    set to the parquet scan instead of bbox rectangles, on a grid of any
    width; a larger set keeps the per-zone rects
    (operators/zonal.storage_fence).
    Pruning is a strict superset
    filter, so the answer equals zonal_default — shared oracle."""
    from python_rasterstats_spark.fixtures import ensure_fixtures
    from python_rasterstats_spark.operators.zonal import zonal_stats_df
    from python_rasterstats_spark.sources.tables import load_corpus, with_quadkey

    tiles, zones, datasets = load_corpus(spark, ensure_fixtures(FIX))
    out = zonal_stats_df(
        zones.filter(F.col("collection") == "polygons"),
        with_quadkey(tiles), datasets, dataset="slope",
    )
    return out.select(
        "zone_id",
        F.col("count").alias("cnt"),
        F.round("min", 6).alias("min_r"),
        F.round("max", 6).alias("max_r"),
        F.round("mean", 6).alias("mean_r"),
    )


def q_ann_ivf_dist(spark, sf_dir):
    """IVF ANN with DISTRIBUTED probe assignment (r4): the query side
    never collects — per-query top-nprobe lists come from JVM expressions
    on the executors (similarity.ivf_probe_lists) and candidates form via
    a plain list_id equi-join. Gated at nprobe == ncentroids (exhaustive)
    — must equal brute force, same oracle as ann_ivf."""
    from python_rasterstats_spark.functions.similarity import ivf_ann

    return ivf_ann(
        _emb(spark, sf_dir), ncentroids=8, nprobe=8,
        query_max_id=5, threshold=0.25, distributed_queries=True,
    )


def q_tile_resize(spark, sf_dir):
    from python_rasterstats_spark.functions.multimodal import resize_tiles

    tiles, _, _ = _fixture_corpus(spark)
    out = resize_tiles(tiles, out=8)
    # binary payload isn't hashable cross-engine; surface its digest
    return out.select(
        "image_id", "out_w", "out_h", F.md5(F.col("bytes")).alias("payload_md5")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "zonal_default": q_zonal_default,
        "zonal_all_stats": q_zonal_all_stats,
        "zonal_all_touched": q_zonal_all_touched,
        "zonal_categorical": q_zonal_categorical,
        "zonal_nodata_holes": q_zonal_nodata_holes,
        "zonal_all_nodata": q_zonal_all_nodata,
        "zonal_dataset_mask": q_zonal_dataset_mask,
        "zonal_points": q_zonal_points,
        "zonal_lines": q_zonal_lines,
        "zonal_multigeom": q_zonal_multigeom,
        "zonal_overlap_edges": q_zonal_overlap_edges,
        "point_nearest": q_point_nearest,
        "point_bilinear": q_point_bilinear,
        "tile_decode_stats": q_tile_decode_stats,
        "frame_sample": q_frame_sample,
        "audio_features": q_audio_features,
        "tile_phash_neardup": q_tile_phash_neardup,
        "scene_cuts": q_scene_cuts,
        "zonal_band2": q_zonal_band2,
        "zonal_hd_sketch": q_zonal_hd_sketch,
        "zonal_zone_func": q_zonal_zone_func,
        "zonal_raster_out": q_zonal_raster_out,
        "zonal_api_surface": q_zonal_api_surface,
        "zonal_crosstab": q_zonal_crosstab,
        "zonal_crosstab_smj": q_zonal_crosstab_smj,
        "zonal_multiband": q_zonal_multiband,
        "zonal_gather_addstats": q_zonal_gather_addstats,
        "event_sessions": q_event_sessions,
        "event_windows": q_event_windows,
        "zonal_topk": q_zonal_topk,
        "zonal_smj": q_zonal_smj,
        "zonal_smj_holistic": q_zonal_smj_holistic,
        "zonal_qk_part_prune": q_zonal_qk_part_prune,
        "zonal_geotiff_ingest": q_zonal_geotiff_ingest,
        "zonal_gpkg_zones": q_zonal_gpkg_zones,
        "zonal_addstats_scalable": q_zonal_addstats_scalable,
        "cli_zonalstats": q_cli_zonalstats,
        "cli_pointquery": q_cli_pointquery,
        "doc_dedup_exact": q_doc_dedup_exact,
        "doc_dedup_keep": q_doc_dedup_keep,
        "doc_token_stats": q_doc_token_stats,
        "doc_quality": q_doc_quality,
        "doc_langid": q_doc_langid,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_subword_stats": q_doc_subword_stats,
        "doc_winnow": q_doc_winnow,
        "doc_ngram_jaccard": q_doc_ngram_jaccard,
        "doc_seq_pack": q_doc_seq_pack,
        "doc_tfidf": q_doc_tfidf,
        "doc_contamination": q_doc_contamination,
        "doc_pii_scrub": q_doc_pii_scrub,
        "ann_cosine": q_ann_cosine,
        "ann_cosine_topk": q_ann_cosine_topk,
        "emb_neardup": q_emb_neardup,
        "emb_neardup_lsh": q_emb_neardup_lsh,
        "doc_simhash_pairs": q_doc_simhash_pairs,
        # hash-family ops: DuckDB has no xxhash64 twin, so their oracles
        # SELECT committed expected-output parquet generated by an
        # independent pure-Python reimplementation (tools/oracle_hashes.py,
        # from-scratch XXH64) over the sf0.01 tables — the sf the driver
        # gates at.
        "doc_minhash_lsh": q_doc_minhash_lsh,
        "doc_simhash": q_doc_simhash,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_dist": q_ann_ivf_dist,
        "doc_dedup_pipeline": q_doc_dedup_pipeline,
        "zonal_qk_prune": q_zonal_qk_prune,
        "doc_neardup_groups": q_doc_neardup_groups,
        "tile_quadkey": q_tile_quadkey,
        "tile_resize": q_tile_resize,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB). Zonal/point/tile oracles read the committed fixture
# parquet directly; document/embedding oracles use the pre-registered views.
# ---------------------------------------------------------------------------

_COVER = f"read_parquet('{FIX}/oracle_cover.parquet')"
_PIX = f"read_parquet('{FIX}/oracle_pixels.parquet')"

_VALID_JOIN = """
WITH cover AS (SELECT zone_id, dataset, prow, pcol FROM {cover} WHERE query IN ({queries})),
pix AS (SELECT dataset, prow, pcol, value, is_nodata, is_nan FROM {pix}),
j AS (SELECT c.zone_id, p.value,
             coalesce(p.is_nodata, true) AS bad_nodata,
             coalesce(p.is_nan, true) AS bad_nan
      FROM cover c LEFT JOIN pix p
        ON p.dataset = c.dataset AND p.prow = c.prow AND p.pcol = c.pcol)
"""


def _valid_join(queries_in: str) -> str:
    return _VALID_JOIN.format(cover=_COVER, pix=_PIX, queries=queries_in)


_BANKERS = (
    "CASE WHEN {v} = floor({v}) + 0.5 "
    "THEN CAST(floor({v}) AS BIGINT) + abs(CAST(floor({v}) AS BIGINT) % 2) "
    "ELSE CAST(round({v}) AS BIGINT) END"
)


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["zonal_default"] = _valid_join("'polygons_slope_default'") + """
SELECT zone_id,
       count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt,
       round(min(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS min_r,
       round(max(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS max_r,
       round(avg(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS mean_r
FROM j GROUP BY zone_id
"""

    sql["zonal_all_stats"] = _valid_join("'polygons_slope_all'") + """
, v AS (SELECT zone_id, value FROM j WHERE NOT bad_nodata AND NOT bad_nan),
maj AS (
  SELECT zone_id, value AS majority_val FROM (
    SELECT zone_id, value,
           row_number() OVER (PARTITION BY zone_id ORDER BY count(*) DESC, value ASC) rn
    FROM v GROUP BY zone_id, value) WHERE rn = 1),
mino AS (
  SELECT zone_id, value AS minority_val FROM (
    SELECT zone_id, value,
           row_number() OVER (PARTITION BY zone_id ORDER BY count(*) ASC, value ASC) rn
    FROM v GROUP BY zone_id, value) WHERE rn = 1),
nd AS (SELECT zone_id,
              CAST(count(*) FILTER (WHERE bad_nodata) AS DOUBLE) AS nodata_sum,
              CAST(count(*) FILTER (WHERE bad_nan AND value IS NOT NULL) AS DOUBLE) AS nan_sum
       FROM j GROUP BY zone_id)
SELECT v.zone_id,
       count(*) AS cnt,
       round(min(v.value), 6) AS min_r,
       round(max(v.value), 6) AS max_r,
       round(avg(v.value), 6) AS mean_r,
       round(sum(v.value), 6) AS sum_r,
       round(stddev_pop(v.value), 6) AS std_r,
       round(quantile_cont(v.value, 0.5), 6) AS median_r,
       round(any_value(maj.majority_val), 6) AS majority_r,
       round(any_value(mino.minority_val), 6) AS minority_r,
       count(DISTINCT v.value) AS uniq,
       round(max(v.value) - min(v.value), 6) AS range_r,
       any_value(nd.nodata_sum) AS nodata_cnt,
       any_value(nd.nan_sum) AS nan_cnt,
       round(quantile_cont(v.value, 0.25), 6) AS p25_r,
       round(quantile_cont(v.value, 0.90), 6) AS p90_r
FROM v JOIN maj USING (zone_id) JOIN mino USING (zone_id) JOIN nd USING (zone_id)
GROUP BY v.zone_id
"""

    # same zones/dataset/valid-pixel set as zonal_default: the SMJ-regime
    # run and the CLI run must produce the broadcast plan's exact answer
    sql["zonal_smj"] = sql["zonal_default"]
    sql["zonal_smj_holistic"] = sql["zonal_all_stats"]
    sql["zonal_qk_prune"] = sql["zonal_default"]
    sql["zonal_qk_part_prune"] = sql["zonal_default"]
    sql["zonal_geotiff_ingest"] = sql["zonal_default"]
    sql["zonal_gpkg_zones"] = sql["zonal_default"]
    sql["cli_zonalstats"] = sql["zonal_default"]

    sql["zonal_addstats_scalable"] = _valid_join("'polygons_slope_default'") + """
SELECT zone_id,
       count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt,
       round(sum(value * value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS sumsq_r
FROM j GROUP BY zone_id
"""

    sql["zonal_all_touched"] = _valid_join("'polygons_slope_touched'") + """
SELECT zone_id,
       count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt
FROM j GROUP BY zone_id
"""

    sql["zonal_categorical"] = _valid_join("'polygons_classes_categorical'") + """
SELECT zone_id, value AS val, count(*) AS cnt
FROM j WHERE NOT bad_nodata AND NOT bad_nan
GROUP BY zone_id, value
"""

    for name, qn in (
        ("zonal_nodata_holes", "polygons_slope_nodata"),
        ("zonal_all_nodata", "polygons_all_nodata"),
    ):
        sql[name] = _valid_join(f"'{qn}'") + """
SELECT zone_id,
       count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt,
       CAST(count(*) FILTER (WHERE bad_nodata) AS DOUBLE) AS nodata_cnt
FROM j GROUP BY zone_id
"""

    sql["zonal_dataset_mask"] = _valid_join("'polygons_dataset_mask'") + """
SELECT zone_id,
       count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt
FROM j GROUP BY zone_id
"""

    for name, qn, with_mean in (
        ("zonal_points", "points_slope", True),
        ("zonal_lines", "lines_slope", True),
        (
            "zonal_multigeom",
            "multipolygons_slope','multilines_slope','multipoints_slope",
            False,
        ),
        (
            "zonal_overlap_edges",
            "partial_overlap_slope','no_overlap_slope",
            False,
        ),
    ):
        mean_sel = (
            ",\n       round(avg(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS mean_r"
            if with_mean
            else ""
        )
        sql[name] = _valid_join(f"'{qn}'") + f"""
SELECT zone_id,
       count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt{mean_sel}
FROM j GROUP BY zone_id
"""

    # point queries — full interpolation math in SQL (affine constants from
    # fixtures.AFF_SLOPE)
    a, c0 = 25.52514657450613, 244300.61494985913
    e, f0 = -25.52514657450613, 1000868.7876863468
    qv = f"read_parquet('{FIX}/query_vertices.parquet')"

    sql["point_nearest"] = f"""
WITH q AS (SELECT zone_id, CAST(vertex_idx AS BIGINT) vertex_idx,
                  CAST(floor((y - {f0!r}) / {e!r}) AS BIGINT) pr,
                  CAST(floor((x - {c0!r}) / {a!r}) AS BIGINT) pc
           FROM {qv}),
pix AS (SELECT prow, pcol, value, is_nodata FROM {_PIX} WHERE dataset = 'slope')
SELECT q.zone_id, q.vertex_idx,
       CASE WHEN p.value IS NULL OR p.is_nodata THEN NULL
            ELSE round(p.value, 6) END AS value_r
FROM q LEFT JOIN pix p ON p.prow = q.pr AND p.pcol = q.pc
"""

    br = _BANKERS.format(v="frow")
    bc = _BANKERS.format(v="fcol")
    sql["point_bilinear"] = f"""
WITH q0 AS (SELECT zone_id, CAST(vertex_idx AS BIGINT) vertex_idx,
                   (x - {c0!r}) / {a!r} AS fcol,
                   (y - {f0!r}) / {e!r} AS frow
            FROM {qv}),
rc AS (SELECT *, {br} AS r, {bc} AS c FROM q0),
u AS (SELECT *, 0.5 - (c - fcol) AS ux, 0.5 + (r - frow) AS uy FROM rc),
pix AS (SELECT prow, pcol, value, is_nodata FROM {_PIX} WHERE dataset = 'slope'),
g AS (SELECT u.zone_id, u.vertex_idx, u.ux, u.uy,
             pa.value AS va, coalesce(pa.is_nodata, true) AS ma,
             pb.value AS vb, coalesce(pb.is_nodata, true) AS mb,
             pc2.value AS vc, coalesce(pc2.is_nodata, true) AS mc,
             pd.value AS vd, coalesce(pd.is_nodata, true) AS md
      FROM u
      LEFT JOIN pix pa ON pa.prow = u.r - 1 AND pa.pcol = u.c - 1
      LEFT JOIN pix pb ON pb.prow = u.r - 1 AND pb.pcol = u.c
      LEFT JOIN pix pc2 ON pc2.prow = u.r AND pc2.pcol = u.c - 1
      LEFT JOIN pix pd ON pd.prow = u.r AND pd.pcol = u.c)
SELECT zone_id, vertex_idx,
  round(CASE
    WHEN NOT ma AND NOT mb AND NOT mc AND NOT md THEN
      vc*(1-ux)*(1-uy) + vd*ux*(1-uy) + va*(1-ux)*uy + vb*ux*uy
    WHEN (CASE WHEN (1-uy) = 0.5 THEN 0 ELSE CAST(round(1-uy) AS INT) END) = 0 THEN
      CASE WHEN (CASE WHEN ux = 0.5 THEN 0 ELSE CAST(round(ux) AS INT) END) = 0
           THEN (CASE WHEN ma THEN NULL ELSE va END)
           ELSE (CASE WHEN mb THEN NULL ELSE vb END) END
    ELSE
      CASE WHEN (CASE WHEN ux = 0.5 THEN 0 ELSE CAST(round(ux) AS INT) END) = 0
           THEN (CASE WHEN mc THEN NULL ELSE vc END)
           ELSE (CASE WHEN md THEN NULL ELSE vd END) END
  END, 6) AS value_r
FROM g
"""
    # the CLI pointquery gate replays the same query points through the
    # full CLI pipeline (GeoJSON in → engine → GeoJSON-sequence out)
    sql["cli_pointquery"] = sql["point_bilinear"]

    sql["tile_decode_stats"] = (
        f"SELECT image_id, dataset, w, h, mean_r, min_r, max_r, valid_cnt, "
        f"phash_check FROM read_parquet('{FIX}/oracle_tile_stats.parquet')"
    )

    sql["audio_features"] = (
        f"SELECT clip_id, CAST(win_idx AS BIGINT) AS win_idx, rms_r, peak, "
        f"zc_cnt FROM read_parquet('{FIX}/oracle_audio_windows.parquet')"
    )

    sql["tile_phash_neardup"] = f"""
WITH t AS (SELECT image_id, phash FROM read_parquet('{FIX}/tiles.parquet'))
SELECT a.image_id AS image_a, b.image_id AS image_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM t a JOIN t b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
"""

    sql["scene_cuts"] = f"""
WITH t AS (
  SELECT dataset, image_id, phash,
         CAST(row_number() OVER w - 1 AS BIGINT) AS frame_idx,
         lag(phash) OVER w AS prev
  FROM read_parquet('{FIX}/tiles.parquet')
  WINDOW w AS (PARTITION BY dataset ORDER BY tile_row, tile_col)
)
SELECT dataset, frame_idx, image_id,
       CAST(bit_count(xor(phash, prev)) AS BIGINT) AS hamming
FROM t WHERE prev IS NOT NULL AND bit_count(xor(phash, prev)) > 20
"""

    sql["frame_sample"] = f"""
SELECT dataset, frame_idx, image_id, caption, phash FROM (
  SELECT dataset, caption, phash, image_id,
         CAST(row_number() OVER (PARTITION BY dataset ORDER BY tile_row, tile_col) - 1 AS BIGINT) AS frame_idx
  FROM read_parquet('{FIX}/tiles.parquet'))
WHERE frame_idx % 4 = 0
"""

    sql["zonal_band2"] = _valid_join("'polygons_slope_default'") + """
SELECT zone_id,
       count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt,
       round(min(value * 2) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS min_r,
       round(max(value * 2) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS max_r,
       round(avg(value * 2) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS mean_r
FROM j GROUP BY zone_id
"""

    sql["zonal_hd_sketch"] = _valid_join("'hd_slope_percentiles'") + """
SELECT zone_id,
       count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt,
       round(min(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS min_r,
       round(max(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS max_r,
       round(quantile_cont(value, 0.5) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 0) AS median_r0,
       round(quantile_cont(value, 0.25) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 0) AS p25_r0,
       round(quantile_cont(value, 0.90) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 0) AS p90_r0
FROM j GROUP BY zone_id
"""

    sql["zonal_crosstab"] = f"""
WITH cover AS (SELECT zone_id, prow, pcol FROM {_COVER}
               WHERE query = 'polygons_slope_default'),
v AS (SELECT prow, pcol, value FROM {_PIX}
      WHERE dataset = 'slope' AND NOT is_nodata AND NOT is_nan),
c AS (SELECT prow, pcol, value AS cls FROM {_PIX}
      WHERE dataset = 'slope_classes' AND NOT is_nodata AND NOT is_nan)
SELECT cover.zone_id, c.cls, count(*) AS cnt,
       round(min(v.value), 6) AS min_r,
       round(max(v.value), 6) AS max_r,
       round(avg(v.value), 6) AS mean_r,
       round(sum(v.value), 6) AS sum_r,
       round(stddev_pop(v.value), 6) AS std_r
FROM cover
JOIN v ON v.prow = cover.prow AND v.pcol = cover.pcol
JOIN c ON c.prow = cover.prow AND c.pcol = cover.pcol
GROUP BY cover.zone_id, c.cls
"""
    sql["zonal_crosstab_smj"] = sql["zonal_crosstab"]

    sql["zonal_multiband"] = _valid_join("'polygons_slope_default'") + """
, v AS (SELECT zone_id, value FROM j WHERE NOT bad_nodata AND NOT bad_nan),
b AS (SELECT zone_id, 1 AS band, value FROM v
      UNION ALL
      SELECT zone_id, 2 AS band, value * 2 FROM v)
SELECT zone_id, CAST(band AS BIGINT) AS band, count(*) AS cnt,
       round(min(value), 6) AS min_r,
       round(max(value), 6) AS max_r,
       round(avg(value), 6) AS mean_r,
       round(quantile_cont(value, 0.5), 6) AS median_r
FROM b GROUP BY zone_id, band
"""

    sql["zonal_gather_addstats"] = _valid_join("'polygons_slope_default'") + """
SELECT zone_id,
       count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt,
       round(avg(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS mymean_r
FROM j GROUP BY zone_id
"""

    sql["zonal_zone_func"] = _valid_join("'polygons_slope_default'") + """
, t AS (SELECT zone_id, CAST(CAST(value + 2 AS REAL) AS DOUBLE) AS tv
        FROM j WHERE NOT bad_nodata AND NOT bad_nan)
SELECT zone_id,
       count(*) AS cnt,
       round(min(tv), 6) AS min_r,
       round(max(tv), 6) AS max_r,
       round(avg(tv), 6) AS mean_r
FROM t GROUP BY zone_id
"""

    sql["zonal_raster_out"] = (
        f"SELECT zone_id, data_md5, mask_md5, aff_a, aff_b, aff_c, aff_d, "
        f"aff_e, aff_f, nodata "
        f"FROM read_parquet('{FIX}/oracle_raster_out.parquet')"
    )

    sql["zonal_api_surface"] = _valid_join("'polygons_classes_categorical'") + """
, v AS (SELECT zone_id, value FROM j WHERE NOT bad_nodata AND NOT bad_nan)
SELECT zone_id,
       'zs_' || (CASE WHEN value = 1 THEN 'low'
                      ELSE CAST(value AS VARCHAR) END) AS key,
       count(*) AS val
FROM v GROUP BY zone_id, value
UNION ALL
SELECT zone_id, 'zs_count' AS key, count(*) AS val
FROM v GROUP BY zone_id
"""

    # independent session semantics: lag/cumsum chaining (an event exactly
    # `gap` after its predecessor starts a NEW session — matching Spark's
    # half-open session_window)
    sql["event_sessions"] = """
WITH x AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
y AS (
  SELECT *, sum(new_s) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM x
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS first_s,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS last_s,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM y GROUP BY user_id, sid
"""

    sql["event_windows"] = """
SELECT user_id,
       CAST(floor(epoch(time_bucket(INTERVAL 1 HOUR, ts))) AS BIGINT) AS w_start_s,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""

    sql["zonal_topk"] = _valid_join("'partial_overlap_slope'") + """
, st AS (
  SELECT zone_id,
         count(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS cnt,
         round(avg(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan), 6) AS mean_r,
         avg(value) FILTER (WHERE NOT bad_nodata AND NOT bad_nan) AS mean_full
  FROM j GROUP BY zone_id)
SELECT zone_id,
       row_number() OVER (ORDER BY mean_full DESC, zone_id) AS rank,
       cnt, mean_r
FROM st
QUALIFY rank <= 5
"""

    sql["doc_dedup_exact"] = """
SELECT doc_id, md5(text) AS text_hash,
       count(*) OVER (PARTITION BY md5(text)) AS dup_count,
       min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
FROM documents
"""

    sql["doc_dedup_keep"] = """
WITH k AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
           FROM documents)
SELECT d.doc_id, d.n_chars, md5(d.text) AS text_md5
FROM documents d JOIN k ON k.doc_id = d.doc_id AND k.doc_id = k.keeper
"""

    sql["doc_token_stats"] = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') toks,
                  regexp_replace(trim(text), '\s+', '', 'g') joined
           FROM documents)
SELECT doc_id, len(toks) AS token_cnt,
       len(list_distinct(toks)) AS uniq_token_cnt,
       round(CAST(length(joined) AS DOUBLE) / len(toks), 6) AS avg_token_len
FROM t
"""

    sql["doc_quality"] = """
WITH t AS (SELECT doc_id, n_chars, string_split(trim(text), ' ') toks FROM documents),
s AS (SELECT doc_id, n_chars, len(toks) word_cnt,
             len(list_filter(toks, x -> x IN ('the', 'a'))) stop_cnt,
             len(list_distinct(toks)) uniq_cnt
      FROM t)
SELECT doc_id, n_chars, word_cnt, stop_cnt,
       round(CAST(stop_cnt AS DOUBLE) / word_cnt, 6) AS stop_ratio,
       round(CAST(uniq_cnt AS DOUBLE) / word_cnt, 6) AS distinct_ratio,
       CASE WHEN CAST(uniq_cnt AS DOUBLE) / word_cnt < 0.3 THEN 'repetitive'
            WHEN word_cnt < 20 THEN 'short' ELSE 'ok' END AS quality_bucket
FROM s
"""

    sql["doc_langid"] = """
WITH t AS (SELECT doc_id, string_split(trim(text), ' ') toks FROM documents)
SELECT doc_id,
       round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS DOUBLE)
             / len(toks), 6) AS en_score,
       CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS DOUBLE)
                 / len(toks) > 0.0 THEN 'en' ELSE 'und' END AS lang_pred
FROM t
"""

    sql["doc_fingerprint"] = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS fp
FROM documents
"""

    sql["doc_subword_stats"] = r"""
WITH t AS (SELECT doc_id,
                  regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') ps
           FROM documents)
SELECT doc_id, len(ps) AS subword_cnt,
       len(list_distinct(ps)) AS uniq_subword_cnt,
       len(list_filter(ps, x -> regexp_matches(x, '^[^A-Za-z0-9]$'))) AS punct_cnt
FROM t
"""

    sql["doc_winnow"] = """
WITH t AS (SELECT doc_id, string_split(trim(text), ' ') toks FROM documents),
f AS (SELECT doc_id,
             list_transform(range(1, len(toks) - 5 + 2),
                            i -> md5(array_to_string(toks[i:i+4], ' '))) AS hs
      FROM t WHERE len(toks) >= 8),
m AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - 4 + 2),
                                          i -> list_min(hs[i:i+3]))) AS fps
      FROM f)
SELECT doc_id, unnest(fps) AS fp FROM m
"""

    sql["doc_ngram_jaccard"] = """
WITH t AS (SELECT doc_id, source, string_split(trim(text), ' ') toks FROM documents),
s AS (SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
      FROM t WHERE len(toks) >= 3),
sz AS (SELECT doc_id, count(*) n FROM s GROUP BY 1),
pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) inter
          FROM s a JOIN s b
            ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT da AS doc_a, db AS doc_b,
       round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard_r
FROM pairs JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.4
"""

    sql["doc_seq_pack"] = """
WITH t AS (SELECT doc_id, doc_id % 8 AS bucket,
                  len(string_split(trim(text), ' ')) AS tok
           FROM documents),
c AS (SELECT doc_id, bucket, tok,
             COALESCE(SUM(tok) OVER (PARTITION BY bucket ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
      FROM t)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(FLOOR(excl / 256.0) AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS tok_sum,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM c GROUP BY 1, 2
"""

    sql["doc_tfidf"] = """
WITH terms AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
               FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                  round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1)) + 1.0), 6)
                      AS score_r
           FROM tf JOIN df USING (term), n),
ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score_r DESC, term ASC) AS rn
           FROM scored)
SELECT doc_id, term AS top_term, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, score_r
FROM ranked WHERE rn = 1
"""

    sql["doc_contamination"] = """
WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
           FROM documents),
g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 3),
                    i -> md5(array_to_string(toks[i:i+4], ' '))))) AS g
      FROM t WHERE len(toks) >= 5),
train AS (SELECT DISTINCT g FROM g WHERE doc_id % 2 = 0),
test AS (SELECT * FROM g WHERE doc_id % 2 = 1),
hits AS (SELECT test.doc_id, COUNT(*) AS n_overlap
         FROM test JOIN train USING (g) GROUP BY 1),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM test GROUP BY 1)
SELECT totals.doc_id, CAST(totals.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(hits.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(COALESCE(hits.n_overlap, 0) * 1.0 / totals.n_grams, 6)
           AS contam_ratio_r,
       COALESCE(hits.n_overlap, 0) > 0 AS contaminated
FROM totals LEFT JOIN hits ON totals.doc_id = hits.doc_id
"""

    from python_rasterstats_spark.functions.textops import PII_PATTERNS

    _pii_stages = "t0 AS (SELECT doc_id, text AS t FROM documents)"
    for _i, (_nm, _pat) in enumerate(PII_PATTERNS, start=1):
        _p = _pat.replace("'", "''")
        _pii_stages += (
            f",\nt{_i} AS (SELECT doc_id, "
            + ", ".join(f"n_{n}" for n, _ in PII_PATTERNS[: _i - 1])
            + (", " if _i > 1 else "")
            + f"CAST(len(regexp_extract_all(t, '{_p}')) AS BIGINT) AS n_{_nm}, "
            f"regexp_replace(t, '{_p}', '<{_nm.upper()}>', 'g') AS t "
            f"FROM t{_i - 1})"
        )
    _pii_sum = " + ".join(f"n_{n}" for n, _ in PII_PATTERNS)
    sql["doc_pii_scrub"] = (
        "WITH " + _pii_stages + "\nSELECT doc_id, "
        + ", ".join(f"n_{n}" for n, _ in PII_PATTERNS)
        + f", md5(t) AS scrubbed_md5, ({_pii_sum}) > 0 AS had_pii FROM t"
        + str(len(PII_PATTERNS))
    )

    _dot = (
        "list_sum(list_transform(range(1, len({x}) + 1), "
        "i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
    )
    cos = (
        _dot.format(x="q.qv", y="e.embedding")
        + " / (sqrt(" + _dot.format(x="q.qv", y="q.qv") + ")"
        + " * sqrt(" + _dot.format(x="e.embedding", y="e.embedding") + "))"
    )
    sql["ann_cosine"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos
      FROM q, embeddings e WHERE e.vec_id != q.query_id)
SELECT query_id, neighbor_id, round(cos, 6) AS cos_r
FROM c WHERE cos >= 0.25
"""

    # IVF gated exhaustively (nprobe == ncentroids) -> identical to brute
    sql["ann_ivf"] = sql["ann_cosine"]
    sql["ann_ivf_dist"] = sql["ann_cosine"]

    cos_ab = (
        _dot.format(x="a.va", y="b.embedding")
        + " / (sqrt(" + _dot.format(x="a.va", y="a.va") + ")"
        + " * sqrt(" + _dot.format(x="b.embedding", y="b.embedding") + "))"
    )
    sql["emb_neardup"] = f"""
WITH a AS (SELECT vec_id AS vec_a, embedding AS va FROM embeddings WHERE vec_id < 50),
c AS (SELECT a.vec_a, b.vec_id AS vec_b, {cos_ab} AS cos
      FROM a, embeddings b WHERE a.vec_a < b.vec_id)
SELECT vec_a, vec_b, round(cos, 6) AS cos_r FROM c WHERE cos >= 0.35
"""

    sql["emb_neardup_lsh"] = sql["emb_neardup"]

    sql["ann_cosine_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos
      FROM q, embeddings e WHERE e.vec_id != q.query_id)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
       neighbor_id, round(cos, 6) AS cos_r
FROM c
QUALIFY rank <= 5
"""
    # hash-family expected outputs (tools/oracle_hashes.py; valid at the
    # driver's correctness sf of 0.01 — zonal/tile queries are sf-invariant)
    hora = os.path.join(REPO, "data", "oracles", "sf0_01")
    sql["doc_minhash_lsh"] = (
        f"SELECT doc_a, doc_b, est_jaccard FROM "
        f"read_parquet('{hora}/doc_minhash_lsh.parquet')"
    )
    sql["doc_simhash"] = (
        f"SELECT doc_id, simhash FROM read_parquet('{hora}/doc_simhash.parquet')"
    )
    sql["ann_lsh"] = (
        f"SELECT query_id, neighbor_id, cos_r FROM "
        f"read_parquet('{hora}/ann_lsh.parquet')"
    )
    sql["tile_resize"] = (
        f"SELECT image_id, out_w, out_h, payload_md5 FROM "
        f"read_parquet('{hora}/tile_resize.parquet')"
    )
    # Morton quadkey: the identical bit arithmetic, independently in SQL
    qk_terms = " | ".join(
        f"((({{c}} >> {k}) & 1) << {2 * k}) | "
        f"((({{r}} >> {k}) & 1) << {2 * k + 1})"
        for k in range(16)
    )
    qk_sql = qk_terms.format(c="tile_col", r="tile_row")
    sql["tile_quadkey"] = f"""
SELECT dataset, tile_col, tile_row,
       CAST({qk_sql} AS BIGINT) AS quadkey,
       CAST(({qk_sql}) >> 2 AS BIGINT) AS parent_qk
FROM read_parquet('{FIX}/tiles.parquet')
"""
    sql["doc_simhash_pairs"] = f"""
WITH t AS (SELECT doc_id, simhash FROM read_parquet('{hora}/doc_simhash.parquet'))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""
    # connected components via recursive CTE — an independent transitive
    # closure over the SAME pair set the simhash oracle defines
    sql["doc_neardup_groups"] = f"""
WITH RECURSIVE t AS (
    SELECT doc_id, simhash FROM read_parquet('{hora}/doc_simhash.parquet')),
p AS (SELECT a.doc_id AS a, b.doc_id AS b FROM t a JOIN t b
      ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
reach(n, m) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM e)
    UNION
    SELECT r.n, e.b FROM reach r JOIN e ON e.a = r.m
)
SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS keeper_id
FROM reach GROUP BY n
"""

    sql["doc_dedup_pipeline"] = f"""
WITH RECURSIVE t AS (
    SELECT doc_id, simhash FROM read_parquet('{hora}/doc_simhash.parquet')),
p AS (SELECT a.doc_id AS a, b.doc_id AS b FROM t a JOIN t b
      ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
reach(n, m) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM e)
    UNION
    SELECT r.n, e.b FROM reach r JOIN e ON e.a = r.m
),
g AS (SELECT n AS doc_id, min(m) AS keeper FROM reach GROUP BY n)
SELECT d.doc_id, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM g WHERE doc_id != keeper)
"""
    return sql


if __name__ == "__main__":
    from python_rasterstats_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    df = entry(spark)
    df.show(5)
    print("queries:", len(queries()), "oracles:", len(oracle_sql()))
