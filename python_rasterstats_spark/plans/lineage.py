"""Checkpoint-resume stage runner with per-partition lineage + metrics.

north_rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". Each pipeline stage writes a parquet stage table (the
Iceberg-snapshot stand-in — this container has no Iceberg runtime jars;
the layout maps 1:1 onto Iceberg tables: stage table = table, _SUCCESS
marker = snapshot commit) plus rows in a metrics table recording, per
stage: wall time, row count, schema, per-partition row counts and a
content digest. A restarted run skips completed stages by reading their
stage tables instead of recomputing.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class CheckpointRunner:
    """Run a DAG of named stages with parquet checkpointing.

    >>> runner = CheckpointRunner(spark, "/tmp/run1")
    >>> partials = runner.stage("partials", lambda: build_partials(...))
    >>> final = runner.stage("final", lambda: merge(partials))
    """

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str = "run"):
        self.spark = spark
        self.base_dir = base_dir
        self.run_id = run_id
        os.makedirs(base_dir, exist_ok=True)
        self.metrics_path = os.path.join(base_dir, "metrics.jsonl")

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.base_dir, f"stage={name}")

    def completed(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._stage_dir(name), "_SUCCESS"))

    def _append_metrics(self, row: dict) -> None:
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def metrics(self) -> list[dict]:
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def stage(self, name: str, build, *, repartition=None) -> DataFrame:
        """Materialize ``build()`` into the stage table, or resume it.

        Emits one metrics row per stage run: wall time, rows, schema, a
        64-bit content digest, and per-partition (file) row counts — the
        lineage rows the north_rule asks for (cell ranges are recoverable
        from min/max key columns per file)."""
        sdir = self._stage_dir(name)
        if self.completed(name):
            self._append_metrics(
                {"run_id": self.run_id, "stage": name, "event": "resumed",
                 "ts": time.time()}
            )
            return self.spark.read.parquet(sdir)
        t0 = time.perf_counter()
        df = build()
        if repartition:
            df = df.repartition(*repartition)
        df.write.mode("overwrite").parquet(sdir)
        wall = time.perf_counter() - t0
        out = self.spark.read.parquet(sdir)

        # per-partition lineage: rows + content digest per parquet file
        # order-insensitive 64-bit content digest per file (xor never
        # overflows, unlike sum under ANSI mode)
        digest_col = F.xxhash64(*[F.col(c).cast("string") for c in out.columns])
        lineage = (
            out.withColumn("_file", F.input_file_name())
            .withColumn("_digest", digest_col)
            .groupBy("_file")
            .agg(
                F.count("*").alias("rows"),
                F.expr("bit_xor(_digest)").alias("digest"),
            )
            .collect()
        )
        self._append_metrics(
            {
                "run_id": self.run_id,
                "stage": name,
                "event": "computed",
                "ts": time.time(),
                "wall_sec": round(wall, 3),
                "rows": int(out.count()),
                "schema": out.schema.simpleString(),
                "partitions": [
                    {
                        "file": os.path.basename(r["_file"]),
                        "rows": int(r["rows"]),
                        "digest": int(r["digest"]) if r["digest"] is not None else 0,
                    }
                    for r in lineage
                ],
            }
        )
        return out


class BucketAbort(RuntimeError):
    """Raised by the fault-injection hook in stage_bucketed tests."""


def stage_bucketed(
    runner: CheckpointRunner,
    name: str,
    build,
    *,
    buckets: int,
    fail_after: int | None = None,
) -> DataFrame:
    """Bucket-grained checkpointing: ``build(b)`` produces bucket ``b``'s
    slice of the stage; each bucket commits independently (its parquet
    dir's _SUCCESS marker IS the commit — a killed write leaves none and
    is cleanly recomputed by mode='overwrite'). A restarted run executes
    ONLY the missing buckets (SURVEY §4 step 7: "restart skips completed
    partitions"). On a warehouse this is one Iceberg snapshot per bucket
    of the pmod(zone_id, buckets) partition transform — the same state
    layout streaming/incremental.py uses for its micro-batch folds.

    ``fail_after`` aborts after that many bucket commits (test hook for
    the kill-and-resume contract)."""
    sdir = runner._stage_dir(name)
    os.makedirs(sdir, exist_ok=True)
    done = 0
    for b in range(buckets):
        bdir = os.path.join(sdir, f"bucket={b}")
        if os.path.exists(os.path.join(bdir, "_SUCCESS")):
            runner._append_metrics(
                {"run_id": runner.run_id, "stage": name, "bucket": b,
                 "event": "skipped", "ts": time.time()}
            )
            continue
        if fail_after is not None and done >= fail_after:
            raise BucketAbort(
                f"injected failure after {done} bucket commits"
            )
        t0 = time.perf_counter()
        df = build(b)
        df.write.mode("overwrite").parquet(bdir)
        done += 1
        runner._append_metrics(
            {"run_id": runner.run_id, "stage": name, "bucket": b,
             "event": "committed", "ts": time.time(),
             "wall_sec": round(time.perf_counter() - t0, 3)}
        )
    return runner.spark.read.parquet(sdir).drop("bucket")


def _zonal_partials(spark, tiles, zones, meta, stats, kw) -> DataFrame:
    """zonal_stats_df's broadcast-regime partial kernel (boundless reads)
    over ``zones``, on its front half (front_half)."""
    from ..operators.zonal import front_half, partial_kernel
    from .. import kernel as K

    fh = front_half(
        zones, tiles, meta, broadcast=True,
        fill_missing="nodata" in stats or "nan" in stats,
    )
    kernel_in, cover = fh.join(fh.tiles)
    return partial_kernel(
        kernel_in, meta, cover=cover,
        all_touched=kw.get("all_touched", False),
        nodata_override=kw.get("nodata"), want_counts=K.needs_counts(stats),
        geoms=fh.geoms(),
    )


def checkpointed_zonal_bucketed(
    spark: SparkSession,
    corpus_dir: str,
    base_dir: str,
    *,
    dataset: str,
    stats=None,
    buckets: int = 8,
    fail_after: int | None = None,
    **kw,
):
    """Batch zonal job with BUCKET-grained checkpoint/resume: the partial
    kernel runs one zone-id bucket at a time (pmod(zone_id, buckets)),
    each bucket's partials commit atomically, and a restart recomputes
    only the buckets that never committed — kill it anywhere and rerun;
    the final merge sees exactly one copy of every partial either way.
    The result stage is zonal_stats_df's tail (zonal_result) over the
    committed partials, so every stat equals the one-shot query's."""
    from ..operators.zonal import collect_dataset_meta, zonal_result
    from ..sources.tables import load_corpus
    from .. import kernel as K

    tiles, zones, datasets = load_corpus(spark, corpus_dir)
    runner = CheckpointRunner(spark, base_dir)
    meta = collect_dataset_meta(datasets)
    stats_list, _ = K.check_stats(stats, False)
    zones_ds = zones.withColumn("dataset", F.lit(dataset))

    def build_bucket(b: int):
        zb = zones_ds.filter(F.pmod(F.col("zone_id"), F.lit(buckets)) == b)
        return _zonal_partials(spark, tiles, zb, meta, stats_list, kw)

    partials = stage_bucketed(
        runner, "partials", build_bucket, buckets=buckets,
        fail_after=fail_after,
    )
    final = runner.stage("result", lambda: zonal_result(
        partials, zones.select("zone_id"), stats_list
    ))
    return final, runner


def checkpointed_zonal(
    spark: SparkSession,
    corpus_dir: str,
    base_dir: str,
    *,
    dataset: str,
    stats=None,
    **kw,
):
    """The zonal pipeline split into resumable stages: partials → result.
    Killing the job between stages and rerunning skips completed work
    (SURVEY.md §4 step 7). The result stage is zonal_stats_df's tail
    (zonal_result) over the checkpointed partials, so every stat equals
    the one-shot query's."""
    from ..operators.zonal import collect_dataset_meta, zonal_result
    from ..sources.tables import load_corpus
    from .. import kernel as K

    tiles, zones, datasets = load_corpus(spark, corpus_dir)
    runner = CheckpointRunner(spark, base_dir)
    meta = collect_dataset_meta(datasets)
    stats_list, _ = K.check_stats(stats, False)
    zones_ds = zones.withColumn("dataset", F.lit(dataset))

    partials = runner.stage("partials", lambda: _zonal_partials(
        spark, tiles, zones_ds, meta, stats_list, kw
    ))
    final = runner.stage("result", lambda: zonal_result(
        partials, zones.select("zone_id"), stats_list
    ))
    return final, runner
