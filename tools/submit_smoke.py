"""spark-submit smoke driver (north_rule packaging evidence).

Run with the engine shipped ONLY via --py-files (no repo on PYTHONPATH):

    python tools/make_pyfiles.py
    spark-submit --master local[4] --py-files dist/prs.zip \
        tools/submit_smoke.py [--get-spark]

Builds a tiny in-memory corpus, runs one zonal query, prints one JSON
line. Exits nonzero if the import or the query fails — the point is that
executors AND driver resolve python_rasterstats_spark from the zip alone.
With ``--get-spark`` the session comes from ``session.get_spark`` (the
engine's configuration, worker-entry choice included) instead of a bare
builder; the JSON line then also names the session's Python worker module.
"""

import json
import sys

import numpy as np
from pyspark.sql import SparkSession


def main() -> int:
    if "--get-spark" in sys.argv[1:]:
        from python_rasterstats_spark.session import get_spark

        spark = get_spark(master="local[4]", shuffle_partitions=4)
    else:
        spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # import AFTER the session exists: --py-files is what puts the
    # package on the path
    from python_rasterstats_spark.operators.zonal import zonal_stats_df
    from python_rasterstats_spark.sources.tables import (
        features_to_zones, raster_to_tables,
    )

    arr = np.arange(1024, dtype=np.float32).reshape(32, 32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 32.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="smoke", nodata=-1.0, tile=8
    )
    zones = features_to_zones(
        spark, ["POLYGON ((4 4, 20 4, 20 20, 4 20, 4 4))"], dataset="smoke"
    )
    row = zonal_stats_df(
        zones, tiles, datasets, dataset="smoke", stats=["count", "mean"]
    ).collect()[0]
    seg = arr[12:28, 4:20].astype(np.float64)
    ok = row["count"] == seg.size and abs(row["mean"] - seg.mean()) < 1e-9
    print(json.dumps({
        "submit_smoke": "ok" if ok else "MISMATCH",
        "count": row["count"],
        "mean": row["mean"],
        "worker_module": spark.conf.get(
            "spark.python.worker.module", "pyspark.worker"),
    }))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
