"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import importlib.util
import os
import sysconfig

from pyspark.sql import SparkSession

WORKER_ENTRY = "pyspark_rasterstats_worker"


def _worker_entry_usable(master: str) -> bool:
    """True when a local daemon can import the engine's worker entry.

    The daemon imports its worker module at start-up, before any
    ``--py-files`` archive reaches its path, so an entry that resolves
    only from a zip (a py-files-only submit) would kill every Python task.
    The entry must be a plain file in a directory the daemon searches: the
    working directory (``python -m``, unless ``PYTHONSAFEPATH``),
    ``PYTHONPATH`` or site-packages."""
    if not master.startswith("local"):
        return False
    spec = importlib.util.find_spec(WORKER_ENTRY)
    if spec is None or not spec.has_location or not os.path.isfile(spec.origin):
        return False
    here = os.path.dirname(os.path.realpath(spec.origin))
    dirs = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    dirs += [sysconfig.get_path("purelib"), sysconfig.get_path("platlib")]
    if not os.environ.get("PYTHONSAFEPATH"):
        dirs.append(os.getcwd())
    return any(d and os.path.realpath(d) == here for d in dirs)


def get_spark(
    app: str = "python_rasterstats_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    """Local SparkSession with the engine's recommended configuration.

    Three settings are SESSION-WIDE and so also change queries the caller
    runs in the same session, not only the engine's own:

    - ``spark.sql.join.preferSortMergeJoin=false`` lets the planner pick a
      shuffled hash join wherever a side's per-partition size estimate
      fits in memory. A hash join's build side cannot spill the way a
      sort-merge join's sort can, so a misestimated or skewed join in
      other code may run out of memory where it would have completed.
      Pass ``extra={"spark.sql.join.preferSortMergeJoin": "true"}`` to
      restore Spark's default; the engine's broadcast-regime joins are
      broadcast hash joins, which the flag does not affect.
    - ``InferFiltersFromGenerate`` is excluded from the optimizer, so no
      query gets the inferred ``size(arr) > 0 AND isnotnull(arr)`` filter
      below an explode (see the comment below). Results are unchanged;
      a query whose pushed-down inferred filter would have pruned rows
      early loses that pruning.
    - ``spark.python.worker.module=pyspark_rasterstats_worker`` runs every
      Python task of the session, the caller's own UDFs included, through
      the engine's worker entry. It is stock ``pyspark.worker`` except that
      a zipimporter re-reads its archive's directory only when the file
      changed, not on every task. On CPython 3.11 that cuts the fixed cost
      of a no-op Python task from 0.21-0.34 to about 0.09 core-seconds
      (``tools/task_overhead.py``, local[4]). Results and plans are
      unchanged. It is set only on a ``local`` master whose Python daemon
      can import the entry as a plain file (not from a ``--py-files``
      zip). Pass ``extra={"spark.python.worker.module": "pyspark.worker"}``
      to restore stock.

    ``extra`` entries are applied last and override any default here."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # join strategy (guide §3.1): let the planner pick shuffled-hash
        # over sort-merge when a side fits per-partition memory — no sort
        # of the payload-bearing tile side in the SMJ regime; AQE converts
        # at runtime too when post-shuffle partitions are ≤ the threshold
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND
        # isnotnull(arr)` below every explode; predicate pushdown then
        # INLINES the generator's full expression into that filter, so
        # array-building expressions (shingles, k-gram hashes, band
        # structs) are evaluated twice per row — once in the pushed filter
        # with projected columns substituted away, once in the projection.
        # The engine's explodes are all over arrays the query has already
        # guaranteed non-empty (explode drops empties anyway), so the
        # inferred filter never prunes a row here — pure duplicated work
        # (measured 2× on the minhash shingle stage).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # tile payloads are ~64-256 KB/row; bound Arrow batch memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if _worker_entry_usable(master):
        b = b.config("spark.python.worker.module", WORKER_ENTRY)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
