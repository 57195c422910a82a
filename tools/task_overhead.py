"""Time the fixed cost of a Python task, engine worker entry vs stock.

Usage:
    python tools/task_overhead.py [--cpus 4]

Starts two `get_spark` sessions one after the other: first with the
engine's worker entry (``pyspark_rasterstats_worker``), then with
``spark.python.worker.module=pyspark.worker``. In each it times a no-op
``mapInPandas`` over 4, 13 and 26 partitions, twice each, after one
warm-up query. Prints one JSON line: the wall times in seconds per
partition count, and ``task_cost_s``, an estimate of one task's fixed cost
in core-seconds, (min wall at 26 − min wall at 4) / 22 × cores.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python daemon imports the worker entry from the repository root
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

PARTITIONS = (4, 13, 26)


def _noop(batches):
    yield from batches


def _time(spark, parts: int) -> float:
    df = spark.range(0, parts * 64, numPartitions=parts).mapInPandas(
        _noop, "id long")
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _session_times(cpus: int, extra: dict) -> tuple[str, dict]:
    from python_rasterstats_spark.session import get_spark

    spark = get_spark(app="task_overhead", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        module = spark.conf.get("spark.python.worker.module", "pyspark.worker")
        _time(spark, max(PARTITIONS))  # warm-up: daemon and worker forks
        times = {p: [round(_time(spark, p), 3) for _ in range(2)]
                 for p in PARTITIONS}
    finally:
        spark.stop()
    return module, times


def _task_cost(times: dict, cpus: int) -> float:
    lo, hi = min(PARTITIONS), max(PARTITIONS)
    return round((min(times[hi]) - min(times[lo])) / (hi - lo) * cpus, 4)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()
    out = {"master": f"local[{args.cpus}]",
           "python": platform.python_version()}
    for label, extra in (
        ("entry", {}),
        ("stock", {"spark.python.worker.module": "pyspark.worker"}),
    ):
        module, times = _session_times(args.cpus, extra)
        out[label] = {"worker_module": module,
                      "wall_s": {str(p): t for p, t in times.items()},
                      "task_cost_s": _task_cost(times, args.cpus)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
