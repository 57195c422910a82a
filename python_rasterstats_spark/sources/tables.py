"""Corpus table loaders + in-memory ingestion.

The canonical storage is parquet with the BASELINE.json ``input_hint``
schema (tiles) plus zones/datasets side tables (fixtures.py). At cluster
scale these would be Iceberg tables partitioned by (dataset, tile_col,
tile_row buckets); ``spark.read.parquet`` and ``spark.read.format("iceberg")``
are interchangeable here because the engine only relies on column pruning
and the tile-key equi-join (partition pruning comes free once the key is a
partition column).
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import codecs as C
from .. import geom as G
from .. import kernel as K


def load_corpus(spark: SparkSession, directory: str):
    """(tiles, zones, datasets) DataFrames from a corpus directory."""
    tiles = spark.read.parquet(os.path.join(directory, "tiles.parquet"))
    zones = spark.read.parquet(os.path.join(directory, "zones.parquet"))
    datasets = spark.read.parquet(os.path.join(directory, "datasets.parquet"))
    return tiles, zones, datasets


def raster_to_rows(
    array: np.ndarray,
    affine,
    *,
    dataset: str = "mem",
    nodata: float | None = None,
    fmt: str = "npy",
    tile: int = 256,
):
    """Tile an in-memory ndarray into corpus-schema rows (S6 ndarray path,
    reference io.py:268-274). Returns (tile_rows, dataset_row)."""
    h, w = array.shape
    rows = []
    for tr in range(math.ceil(h / tile)):
        for tc in range(math.ceil(w / tile)):
            block = array[tr * tile : (tr + 1) * tile, tc * tile : (tc + 1) * tile]
            payload = C.encode_tile(block, fmt)
            image_id = f"{dataset}/{tc}_{tr}"
            taff = K.window_affine(
                ((tr * tile, tr * tile + block.shape[0]),
                 (tc * tile, tc * tile + block.shape[1])),
                affine,
            )
            rows.append(
                {
                    "image_id": image_id,
                    "bytes": payload,
                    "w": block.shape[1],
                    "h": block.shape[0],
                    "fmt": fmt,
                    "caption": f"tile {image_id} of {dataset}",
                    "phash": C.phash64(block),
                    "dataset": dataset,
                    "tile_col": tc,
                    "tile_row": tr,
                    "affine": [float(v) for v in affine],
                    "nodata": None if nodata is None else float(nodata),
                    "dtype": str(array.dtype),
                    "band_count": 1,
                }
            )
    ds_row = {
        "dataset": dataset,
        "affine": [float(v) for v in affine],
        "height": h,
        "width": w,
        "tile_w": tile,
        "tile_h": tile,
        "nodata": None if nodata is None else float(nodata),
        "dtype": str(array.dtype),
        "fmt": fmt,
        "band_count": 1,
    }
    return rows, ds_row


TILES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long, dataset string, tile_col int, tile_row int, "
    "affine array<double>, nodata double, dtype string, band_count int"
)
DATASETS_DDL = (
    "dataset string, affine array<double>, height int, width int, tile_w int, "
    "tile_h int, nodata double, dtype string, fmt string, band_count int"
)
ZONES_DDL = (
    "zone_id long, collection string, geometry_wkb binary, geom_type string, "
    "properties map<string,string>"
)


def raster_to_tables(
    spark: SparkSession, array: np.ndarray, affine, **kw
) -> tuple[DataFrame, DataFrame]:
    """In-memory ndarray → (tiles, datasets) DataFrames."""
    rows, ds_row = raster_to_rows(array, affine, **kw)
    tiles = spark.createDataFrame(rows, schema=TILES_DDL)
    datasets = spark.createDataFrame([ds_row], schema=DATASETS_DDL)
    return tiles, datasets


def with_quadkey(tiles: DataFrame) -> DataFrame:
    """The tile table with its ``quadkey`` column: the Morton interleave
    of ``tile_col`` and ``tile_row`` (JVM bit expressions; bit-identical
    to kernel.quadkey). Parents are bit prefixes (``qk >> 2``), so
    quadkey ranges align with spatial locality — the Iceberg partition/
    sort-transform candidate for the tile key at 10^12 rows (a zone's
    cover cells become O(few) contiguous quadkey ranges instead of a
    scatter of (col, row) points). The code takes every bit of the two
    int columns, so it never wraps, whatever the grid's width."""
    return tiles.withColumn("quadkey", F.expr(morton_sql("tile_col", "tile_row")))


def morton_sql(col: str, row: str) -> str:
    """SQL text of the Morton interleave of two non-negative int
    expressions (col bits even, row bits odd) into a non-negative BIGINT
    — the JVM twin of kernel.quadkey (its mask steps, K.SPREAD_STEPS),
    parsed in one driver round trip."""

    def spread(e):
        v = f"CAST({e} AS BIGINT)"
        for shift, mask in K.SPREAD_STEPS:
            v = f"(({v} | shiftleft({v}, {shift})) & {mask})"
        return v

    return f"({spread(col)} | shiftleft({spread(row)}, 1))"


def _tile_payload_bytes(tiles: DataFrame) -> int:
    """Payload bytes of the table's first tile: the writers' estimate of
    a row's size when they size the quadkey bloom filter (a later tile
    that is larger only lowers the filter's false-positive rate; one that
    is smaller raises it, and a false positive only admits a row group)."""
    row = tiles.select(F.length("bytes")).first()
    return (row[0] or 1) if row else 1


# false-positive rate of the quadkey bloom filter, per probed key. A
# key-set scan probes every group with each of its keys (up to
# operators/zonal._MAX_KEYS, ~1,000), and one false positive admits the
# group, so parquet's default 1% would admit most groups; 1e-5 admits
# ≤1% at ~24 bits per key (64 bytes for a 1 MiB group of ~16 tiles).
_QUADKEY_BLOOM_FPP = 1e-5


def _quadkey_layout_writer(df: DataFrame, tiles: DataFrame, row_group_bytes: int):
    """The parquet writer both quadkey layouts share: ``row_group_bytes``
    row groups and a bloom filter on ``quadkey`` sized for the keys one
    group holds (``row_group_bytes`` ÷ a tile's payload bytes, at
    _QUADKEY_BLOOM_FPP). Unsized, parquet gives every column chunk a
    1 MiB filter."""
    ndv = max(1, math.ceil(row_group_bytes / _tile_payload_bytes(tiles)))
    return (
        df.write.mode("overwrite")
        .option("parquet.block.size", str(row_group_bytes))
        # parquet-mr checks accumulated size only every ≥100 records by
        # default — at ~256 KiB/tile row that floors groups at ~25 MiB
        # regardless of block.size; check every few rows instead
        .option("parquet.page.size.row.check.min", "4")
        .option("parquet.page.size.row.check.max", "64")
        .option("parquet.bloom.filter.enabled#quadkey", "true")
        .option("parquet.bloom.filter.expected.ndv#quadkey", str(ndv))
        .option("parquet.bloom.filter.fpp#quadkey", str(_QUADKEY_BLOOM_FPP))
    )


def write_quadkey_sorted_tiles(
    tiles: DataFrame,
    path: str,
    *,
    files: int | None = None,
    row_group_bytes: int = 1 << 20,
) -> None:
    """Persist the tile table range-partitioned + sorted by (dataset,
    quadkey) — the storage layout that makes PER-ZONE scan pruning
    (operators/zonal.storage_fence) effective: a sparse zone set's exact
    tile-key set, or a larger set's ≤64 tile_col/tile_row rects, map to
    few row groups (a group is a compact Morton block, so its tile_col
    and tile_row min-max stats are narrow too), so a sparse zone set
    over a planet-sized corpus reads only its working set. On a real
    warehouse this is Iceberg's sort-order/partition transform on the
    Morton key.

    ``row_group_bytes`` caps the parquet row-group size (default 1 MiB vs
    parquet's 128 MiB default): the row group is the skipping granule,
    so with payload-bearing tile rows the default would make every
    admitted group drag ~128 MiB of neighbors along. 1 MiB holds ~16
    tiles of 128×128 float32, so a scattered zone set's few keys per
    group leave most groups to skip. Skipping a group needs more than its
    min-max stats: a key-set predicate (parquet ``In``) prunes by the
    set's min and max only, which span the grid for scattered zones.
    The sort gives each group a narrow key interval, and the ``quadkey``
    bloom filter (sized for the keys a group holds,
    _quadkey_layout_writer) rejects the groups none of whose keys are in
    the set. Spark writes ``quadkey`` PLAIN (its keys are distinct, so
    parquet drops the dictionary), so no dictionary can play that role.
    The reference analog is the per-feature windowed read
    (io.py:292-362): read the window, not the strip it lives in.

    The quadkey takes every bit of the tile indices (with_quadkey), so a
    grid of any width gets its exact key set. A table written with the
    former 16-level code holds the same codes on grids of ≤ 65,536
    tiles per side and wrapped ones on wider grids: rewrite those."""
    n = files or tiles.sparkSession.sparkContext.defaultParallelism
    _quadkey_layout_writer(
        with_quadkey(tiles)
        .repartitionByRange(n, "dataset", "quadkey")
        .sortWithinPartitions("dataset", "quadkey"),
        tiles, row_group_bytes,
    ).parquet(path)


# quad-prefix bits of the partitioned layout: ≤ 2^6 = 64 directories per
# dataset whatever the grid size
_PREFIX_BITS = 6


def quad_prefix_shift(ntc: int, ntr: int) -> int:
    """Bit shift turning a quadkey into its quad-prefix partition value
    for a dataset whose grid is ``ntc × ntr`` tiles: the populated code
    space spans ``2*levels`` bits (levels = ceil(log2(max dim))), and the
    top _PREFIX_BITS bits become the prefix. Writer and pruning predicate
    MUST derive the shift from the same datasets metadata (this
    function) so partition values always agree."""
    dim = max(ntc, ntr, 1)
    levels = max(1, math.ceil(math.log2(dim)))
    return max(0, 2 * levels - _PREFIX_BITS)


def dataset_prefix_shifts(meta: dict) -> dict:
    """Per-dataset quad-prefix shift from the datasets metadata dict."""
    out = {}
    for ds, m in meta.items():
        ntc = math.ceil(m["width"] / m["tile_w"])
        ntr = math.ceil(m["height"] / m["tile_h"])
        out[ds] = quad_prefix_shift(ntc, ntr)
    return out


def write_quadkey_partitioned_tiles(
    tiles: DataFrame,
    datasets: DataFrame,
    path: str,
    *,
    row_group_bytes: int = 1 << 20,
) -> None:
    """Persist the tile table PARTITIONED by the quad-prefix of its
    quadkey (``qk_prefix = quadkey >> shift(dataset)``, ≤64 directories
    per dataset; shift derived from the dataset's grid dims so both this
    writer and the pruning predicate agree) and sorted by quadkey within
    partitions — Iceberg's partition-transform idea on plain parquet. A
    zone set's scan fence then prunes at THREE levels: directory listing
    (Spark partition pruning on qk_prefix — PartitionFilters in the
    scan), row-group skipping (quadkey min-max stats and the bloom
    filter, written as by write_quadkey_sorted_tiles), and the residual
    row filter. The scan fence adds the prefix IN-list — of its key set,
    or of its rects' prefix cells — whenever the table has a qk_prefix
    column, in either regime (operators/zonal.storage_fence), on a grid
    of any width (a table written with the former 16-level code wraps
    past 65,536 tiles per side: write_quadkey_sorted_tiles)."""
    from ..operators.zonal import _sql_str, collect_dataset_meta

    shifts = dataset_prefix_shifts(collect_dataset_meta(datasets))
    qk = with_quadkey(tiles)
    cases = " ".join(
        f"WHEN dataset = {_sql_str(ds)} THEN shiftright(quadkey, {sh})"
        for ds, sh in shifts.items()
    )
    _quadkey_layout_writer(
        qk.withColumn("qk_prefix", F.expr(f"CASE {cases} ELSE quadkey END"))
        .repartition("qk_prefix")
        .sortWithinPartitions("qk_prefix", "quadkey"),
        tiles, row_group_bytes,
    ).partitionBy("qk_prefix").parquet(path)


def write_bucketed_tiles(
    tiles: DataFrame, table_name: str, *, buckets: int = 32
) -> None:
    """Persist the tile table bucketed+sorted by the join key.

    With both join sides bucketed on (dataset, tile_col, tile_row), the
    zone-cell ⋈ tiles join needs no tile-side Exchange even in the
    sort-merge regime — the storage-layout answer for zone sets too large
    to broadcast (SURVEY.md §4 join-strategy row; Iceberg's bucket
    partition transform plays this role on a real warehouse)."""
    (
        tiles.write.mode("overwrite")
        .bucketBy(buckets, "dataset", "tile_col", "tile_row")
        .sortBy("dataset", "tile_col", "tile_row")
        .format("parquet")
        .saveAsTable(table_name)
    )


def features_to_zones(
    spark: SparkSession, vectors, layer: int = 0, dataset: str | None = None
) -> DataFrame:
    """read_features-equivalent ingestion → zones DataFrame (S1/S3/S4).

    Accepts everything geom.read_features does (WKT/WKB/GeoJSON/mapping/
    __geo_interface__/iterable — reference io.py:92-139); zone_id preserves
    input order.
    """
    feats = list(G.read_features(vectors, layer))
    rows = []
    for i, f in enumerate(feats):
        g = f["geometry"]
        props = {str(k): str(v) for k, v in (f.get("properties") or {}).items()}
        rows.append(
            {
                "zone_id": i,
                "collection": "user",
                "geometry_wkb": G.wkb_dumps(g),
                "geom_type": g["type"],
                "properties": props,
            }
        )
    df = spark.createDataFrame(rows, schema=ZONES_DDL)
    if dataset is not None:
        df = df.withColumn("dataset", F.lit(dataset))
    return df
