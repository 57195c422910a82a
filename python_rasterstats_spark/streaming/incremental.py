"""Incremental zonal statistics over a tile stream.

The reference is strictly batch (SURVEY.md §2.7: no watermarks/state in
rasterstats), so streaming is an engine extension, not a parity item: new
tiles arriving in a directory (stand-in for a Kafka/Iceberg CDC feed) are
folded into per-zone partial states via Structured Streaming +
``foreachBatch``; the running state is a parquet table of mergeable
partials (same protocol as operators/zonal.py, so the final stats stay
exact under any arrival order).

This works because every statistic the engine supports — including the
holistic ones — is derived from the mergeable partial struct: each
micro-batch re-merges the touched state with its new partials through the
batch engine's own sorted streaming fold (merged_stats with
finalize=False, no per-zone list aggregate), and current_stats
finalizes the state through zonal_stats_df's tail (zonal_result).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import kernel as K
from ..operators.zonal import (
    broadcast_cover_cells, collect_dataset_meta, collect_zone_rows,
    merged_stats, partial_kernel, tile_driven_input, zonal_result,
    zone_windows,
)


def incremental_zonal(
    spark: SparkSession,
    zones: DataFrame,
    datasets: DataFrame,
    stream_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    all_touched: bool = False,
    nodata: float | None = None,
    availableNow: bool = True,
    state_buckets: int = 16,
):
    """Start (or catch up) the incremental pipeline.

    Tiles parquet files dropped into ``stream_dir`` are consumed exactly
    once (checkpointed offsets); per-zone partial state accumulates in
    ``state_dir`` PARTITIONED by zone-id bucket (pmod(zone_id,
    state_buckets)). Each micro-batch reads and rewrites ONLY the buckets
    its zones touch (dynamic partition overwrite) — per-batch state IO is
    bounded by the touched working set, not O(total state). This is the
    parquet shape of an Iceberg MERGE INTO keyed on the bucket partition
    transform. Returns the streaming query (awaitTermination for
    availableNow batch-catch-up semantics)."""
    meta = collect_dataset_meta(datasets)
    geoms, _ = collect_zone_rows(zones)
    geoms_bc = spark.sparkContext.broadcast(geoms)
    cover = broadcast_cover_cells(spark, zone_windows(geoms, meta), meta)

    tiles_schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, dataset string, tile_col int, "
        "tile_row int, affine array<double>, nodata double, dtype string, "
        "band_count int"
    )
    stream = (
        spark.readStream.schema(tiles_schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(stream_dir)
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        kernel_in, batch_cover = tile_driven_input(batch_df, cover, meta)
        new_partials = partial_kernel(
            kernel_in, meta, cover=batch_cover, all_touched=all_touched,
            nodata_override=nodata, want_counts=True, geoms=geoms_bc,
        )
        sp = batch_df.sparkSession
        state_path = os.path.join(state_dir, "partials")
        bucket = F.pmod(F.col("zone_id"), F.lit(state_buckets))
        new_partials = new_partials.withColumn("bucket", bucket)
        touched = [
            r["bucket"]
            for r in new_partials.select("bucket").distinct().collect()
        ]
        if not touched:
            return
        have_state = os.path.exists(state_path) and any(
            e.startswith("bucket=") for e in os.listdir(state_path)
        )
        if have_state:
            # partition pruning: only the touched buckets are read
            old = sp.read.parquet(state_path).filter(
                F.col("bucket").isin(touched)
            )
            both = old.unionByName(new_partials)
        else:
            both = new_partials
        merged = merged_stats(both.drop("bucket"), finalize=False).withColumn(
            "bucket", bucket
        )
        # tmp roundtrip: cannot lazily overwrite files being read; the
        # roundtrip volume is the touched buckets only, not O(state)
        tmp = state_path + f".batch{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        (
            sp.read.parquet(tmp)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(state_path)
        )

    writer = stream.writeStream.foreachBatch(fold_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if availableNow:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def current_stats(
    spark: SparkSession, zones: DataFrame, state_dir: str, stats: list[str]
):
    """Finalize the running state into a stats DataFrame (exact, any time):
    zonal_stats_df's tail over the state's partial rows."""
    partials = spark.read.parquet(os.path.join(state_dir, "partials")).drop("bucket")
    return zonal_result(
        partials, zones.select("zone_id"), K.check_stats(stats, False)[0],
        broadcast=False,
    )
