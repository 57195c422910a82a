"""Incremental zonal statistics over a tile stream.

The reference is strictly batch (SURVEY.md §2.7: no watermarks/state in
rasterstats), so streaming is an engine extension, not a parity item: new
tiles arriving in a directory (stand-in for a Kafka/Iceberg CDC feed) are
folded into per-zone partial states via Structured Streaming +
``foreachBatch``; the running state is a parquet table of mergeable
partials (same protocol as operators/zonal.py, so the final stats stay
exact under any arrival order).

This works because every statistic the engine supports — including the
holistic ones — is derived from the mergeable partial struct: streaming
merge is just repeated partial-merge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.zonal import (
    broadcast_cover_cells, broadcast_zone_geoms, collect_dataset_meta,
    partial_kernel, tile_driven_input,
)


def _merge_partial_tables(left: DataFrame) -> DataFrame:
    """Re-merge a table of partial rows to ≤1 row per (zone, value-domain
    chunk): scalars sum/min/max; value-count arrays re-merge by explode."""
    scalars = left.groupBy("zone_id").agg(
        F.sum("count").alias("count"),
        F.sum("sum").alias("sum"),
        F.sum("sum_i").alias("sum_i"),
        F.sum("sumsq").alias("sumsq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.sum("nodata_count").alias("nodata_count"),
        F.sum("nan_count").alias("nan_count"),
    )
    vc = (
        left.select(
            "zone_id", F.explode(F.arrays_zip("vc_vals", "vc_cnts")).alias("kv")
        )
        .groupBy("zone_id", F.col("kv.vc_vals").alias("val"))
        .agg(F.sum(F.col("kv.vc_cnts")).alias("cnt"))
        .groupBy("zone_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("val", "cnt")))
            ).alias("vc")
        )
        .select(
            "zone_id",
            F.map_keys("vc").alias("vc_vals"),
            F.map_values("vc").alias("vc_cnts"),
        )
    )
    return scalars.join(vc, "zone_id", "left").select(
        "zone_id", "count", "sum", "sum_i", "sumsq", "min", "max",
        "nodata_count", "nan_count",
        F.coalesce("vc_vals", F.array().cast("array<double>")).alias("vc_vals"),
        F.coalesce("vc_cnts", F.array().cast("array<bigint>")).alias("vc_cnts"),
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
    geoms_bc = broadcast_zone_geoms(zones)
    cover = broadcast_cover_cells(spark, geoms_bc.value, meta)

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
        kernel_in, batch_cover = tile_driven_input(batch_df, cover)
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
        merged = _merge_partial_tables(both.drop("bucket")).withColumn(
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
    """Finalize the running state into a stats DataFrame (exact, any time)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .. import kernel as K

    state_path = os.path.join(state_dir, "partials")
    partials = spark.read.parquet(state_path).drop("bucket")

    fields = [T.StructField("zone_id", T.LongType())]
    for s in stats:
        if s in ("count", "unique"):
            fields.append(T.StructField(s, T.LongType()))
        else:
            fields.append(T.StructField(s, T.DoubleType()))
    schema = T.StructType(fields)

    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        merged = {
            "count": int(row["count"]),
            "sum": float(row["sum"]),
            "sum_i": None if pd.isna(row.get("sum_i")) else int(row["sum_i"]),
            "sumsq": float(row["sumsq"]),
            "min": row["min"],
            "max": row["max"],
            "nodata_count": int(row["nodata_count"]),
            "nan_count": int(row["nan_count"]),
            "vc_vals": np.asarray(row["vc_vals"], dtype=np.float64),
            "vc_cnts": np.asarray(row["vc_cnts"], dtype=np.int64),
        }
        out = K.finalize_stats(merged, stats)
        rec = {"zone_id": [row["zone_id"]]}
        for s in stats:
            v = out.get(s)
            rec[s] = [None if v is None else v]
        return pd.DataFrame(rec)

    # state is already merged to one row per zone by fold_batch
    return (
        zones.select("zone_id")
        .join(partials.groupBy("zone_id").applyInPandas(finalize, schema),
              "zone_id", "left")
        .withColumn("count", F.coalesce("count", F.lit(0)))
    )
