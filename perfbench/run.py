"""Zonal-stats / point-query benchmark of the Spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Each run builds the seeded bench corpus, starts one local[nproc] session,
warms the timed operations (workload.OPS) up on their own input, then runs
a closed loop with one client thread: they take turns until ``--seconds``
have passed, every one at least once. Every result is checked against the
single-node kernel oracle. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` each
operation of workload.TRACED_OPS (the timed ones plus point query,
boundless nodata and the SMJ regime) runs once traced, the first one also
once untraced, and the metrics are the per-layer ones. The line before the
result carries details (per-op samples, set-up breakdown, trace file).
Spans of a traced run are written to perfbench/.work/traces/.

Workloads:
  batch               all 2,008 corpus zones over the 2,304-tile sf0.1 corpus
  sparse_interactive  tiles rewritten quadkey-sorted at set-up; every query
                      draws a fresh set of 48 small zones
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("batch", "sparse_interactive")


def _layers(op: str, **groups) -> dict:
    return {f"{layer}.{k}.{op}": k for layer, keys in groups.items() for k in keys}


SCAN = ("scan_bytes", "scan_tiles", "admit_ratio")
MERGE = ("kernel_arrow_out_bytes", "shuffle_bytes", "merge_s")
# Per traced op, each per-layer metric and the plan_layers() counter it
# reads: only the pairs METRICS.md ties to an end-to-end metric.
TRACED_LAYERS = {
    "scalar": _layers("scalar", sources=SCAN, zonal=(
        "build_s", "build_jobs", "kernel_python_s", "kernel_arrow_in_bytes",
        "partial_rows", "payload_crossings")),
    "holistic": _layers("holistic", zonal=MERGE),
    "point": {
        **_layers("point", sources=SCAN),
        "point.build_s": "build_s",
        "point.gather_python_s": "kernel_python_s",
        "point.arrow_in_bytes": "kernel_arrow_in_bytes",
    },
    "nodata": _layers("nodata", zonal=("payload_crossings", "cells_python_s")),
    "smj_scalar": _layers("smj_scalar", zonal=("build_s", "build_jobs", "broadcast_bytes")),
    "smj_holistic": _layers("smj_holistic", zonal=MERGE),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="sf0.1", help="bench corpus size (sf0.001 for the smoke check)")
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file Spark, Python and the JVM write inside .work, and let
    the Python workers import the engine from the repository root."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_DRIVER_MEM", None)  # measure the session's default heap
    sys.path.insert(0, ROOT)


def start_session(cpus: int, split_bytes: int):
    from python_rasterstats_spark.session import get_spark

    spark = get_spark(
        app="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra={
            "spark.sql.files.maxPartitionBytes": str(split_bytes),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


class Query:
    """One operation's input: a zones DataFrame plus what the oracle and the
    throughput accounting need to know about it."""

    def __init__(self, W, corpus, zones, zones_df, oracle=None):
        self.zones = zones
        self.df = zones_df
        self.first_rows = {}
        self.oracle = oracle or {
            "zonal": W.zonal_oracle(zones, corpus),
            "point": W.point_oracle(zones, corpus),
        }
        pairs = W.cover_pairs(zones, corpus)
        self.pairs = len(pairs)
        self.zonal_tiles = len({(tc, tr) for _, tc, tr in pairs})
        self.point_tiles = len(W.point_tiles(zones, corpus))


class Bench:
    def __init__(self, args):
        import workload as W
        from probes import RssSampler, Tracer

        self.W, self.args = W, args
        self.cpus = len(os.sched_getaffinity(0))
        self.ops = W.TRACED_OPS if args.trace else W.OPS
        self.tracer = Tracer()
        self.rss = RssSampler()
        self.detail = {"workload": args.workload, "seed": args.seed, "cpus": self.cpus}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        """Build the inputs, then time session start, load, ingest and the
        warm-up: the set-up a user pays before the first query."""
        import numpy as np

        W, a, tracer = self.W, self.args, self.tracer
        t = time.perf_counter()
        self.corpus = W.build_corpus(WORK, a.scale, a.seed)
        self.detail["corpus"] = self.corpus.meta
        self.detail["corpus_s"] = time.perf_counter() - t
        self.rng = np.random.default_rng([a.seed, 1])
        if a.workload == "batch":
            t = time.perf_counter()
            zones = W.corpus_zones(self.corpus)
            oracle = W.cached_oracle(WORK, a.scale, a.seed, zones, self.corpus)
            self.batch_query = Query(W, self.corpus, zones, None, oracle)
            self.detail["oracle_s"] = time.perf_counter() - t

        t0 = time.perf_counter()
        with tracer.span("session") as s:
            self.spark = start_session(self.cpus, W.split_bytes(self.corpus, self.cpus))
        self.session_s = s["end"] - s["start"]
        from python_rasterstats_spark.sources.tables import load_corpus

        with tracer.span("load"):
            tiles, zones_df, datasets = load_corpus(self.spark, self.corpus.directory)
        self.tile_dir = os.path.join(self.corpus.directory, "tiles.parquet")
        self.ingest_s = self.ingest_bytes_per_px = 0.0
        if a.workload == "sparse_interactive":
            from python_rasterstats_spark.sources.tables import write_quadkey_sorted_tiles

            self.tile_dir = os.path.join(WORK, "sorted-tiles")
            with tracer.span("ingest") as s:
                write_quadkey_sorted_tiles(tiles, self.tile_dir)
                tiles = self.spark.read.parquet(self.tile_dir)
            self.ingest_s = s["end"] - s["start"]
            written = sum(
                os.path.getsize(os.path.join(self.tile_dir, f))
                for f in os.listdir(self.tile_dir) if f.endswith(".parquet")
            )
            self.ingest_bytes_per_px = written / self.corpus.raster.size
        self.tables = (tiles, datasets)
        if a.workload == "batch":
            self.batch_query.df = zones_df
        with tracer.span("warmup") as s:
            # the first query of a session costs ~10 s more than a later one
            # (Python worker start, JIT, codegen): one untimed query of every
            # timed op on the workload's own input, all at once, pays it
            frames = [self.next_query().df for _ in W.OPS]
            with ThreadPoolExecutor(len(W.OPS)) as pool:
                # list() reads every result, so a failed warm-up query raises
                list(pool.map(lambda op, z: self.build(op, z).collect(), W.OPS, frames))
            # after that the first query of an op alone is still 10-30%
            # slower than later ones: one more of each, in turn, as the timed
            # loop runs them. A traced run does not warm its other ops up.
            for op in W.OPS:
                self.build(op, self.next_query().df).collect()
        self.detail["warmup_s"] = s["end"] - s["start"]
        return time.perf_counter() - t0

    def zones_frame(self, zones):
        from python_rasterstats_spark.sources.tables import ZONES_DDL

        return self.spark.createDataFrame(self.W.zone_rows(zones), schema=ZONES_DDL)

    def next_query(self) -> Query:
        if self.args.workload == "batch":
            return self.batch_query
        zones = self.W.sparse_draw(self.corpus, self.rng)
        return Query(self.W, self.corpus, zones, self.zones_frame(zones))

    # -- one operation --------------------------------------------------
    def build(self, op, zones_df, tables=None):
        from python_rasterstats_spark.operators.point import point_query_df
        from python_rasterstats_spark.operators.zonal import zonal_stats_df

        tiles, datasets = tables or self.tables
        if op.stats is None:
            return point_query_df(zones_df, tiles, datasets, dataset=self.W.DATASET)
        return zonal_stats_df(
            zones_df, tiles, datasets, dataset=self.W.DATASET,
            stats=list(op.stats), broadcast_zones=op.broadcast,
        )

    def check(self, op, q, rows) -> list[str]:
        W = self.W
        if op.stats is None:
            return W.check_point(rows, q.oracle["point"])
        errors = W.check_zonal(rows, op.stats, q.oracle["zonal"])
        # both join regimes must agree row for row, within the oracle's
        # tolerances (std is moment-derived, so its last digits follow the
        # merge order)
        first = q.first_rows.setdefault(op.stats, {r["zone_id"]: r for r in rows})
        errors += [f"vs earlier {e}" for e in W.check_zonal(rows, op.stats, first)]
        return errors

    def run_op(self, op, q, qid, traced=False):
        """Wall time of the *_df(...) call plus collect(), the errors, and the
        per-layer record when traced."""
        sc = self.spark.sparkContext
        layers = None
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("query", qid, op=op.name) as root:
                    with self.tracer.span("build", qid, root["id"]):
                        sc.setJobGroup(f"{qid}:build", f"{qid} build")
                        t = time.perf_counter()
                        df = self.build(op, q.df)
                        build_s = time.perf_counter() - t
                    with self.tracer.span("action", qid, root["id"]) as act:
                        sc.setJobGroup(f"{qid}:action", f"{qid} action")
                        rows = df.collect()
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                    build_jobs = len(sc.statusTracker().getJobIdsForGroup(f"{qid}:build"))
                    self.tracer.stage_spans(sc, f"{qid}:action", qid, act["id"])
                    from probes import executed_nodes, plan_layers

                    layers = plan_layers(executed_nodes(df), self.tile_dir)
                    layers.update(build_s=build_s, build_jobs=build_jobs)
                    covered = q.point_tiles if op.stats is None else q.zonal_tiles
                    layers["admit_ratio"] = covered / layers["scan_tiles"]
            else:
                rows = self.build(op, q.df).collect()
            wall = time.perf_counter() - t0
            errors = self.check(op, q, rows)
        except Exception:  # a failed query is counted, the run goes on
            traceback.print_exc()
            wall, errors = time.perf_counter() - t0, ["raised"]
        for e in errors[:5]:
            print(f"perfbench: {qid}: {e}", file=sys.stderr)
        return wall, bool(errors), layers

    # -- runs -----------------------------------------------------------
    def measure(self) -> dict:
        lat = {op.name: [] for op in self.ops}
        rss = []
        failed = attempted = 0
        pairs = pair_s = 0.0
        deadline = time.perf_counter() + self.args.seconds
        # ops take turns until the deadline, every op at least once
        while attempted < len(self.ops) or time.perf_counter() < deadline:
            op = self.ops[attempted % len(self.ops)]
            q = self.next_query()
            self.rss.take_window()
            wall, bad, _ = self.run_op(op, q, f"{op.name}-{attempted}")
            rss.append(self.rss.take_window())
            attempted += 1
            failed += bad
            lat[op.name].append(wall)
            if op.name == "scalar":
                pairs += q.pairs
                pair_s += wall
        self.detail["latencies_s"] = lat
        metrics = {f"{k}_p50_s": statistics.median(v) for k, v in lat.items()}
        metrics["pairs_per_s"] = pairs / pair_s
        metrics["ok_ratio"] = (attempted - failed) / attempted
        # the median of the per-query peaks: the run's overall peak was set
        # by the warm-up's concurrent queries and by when the JVM happened
        # to collect its heap (quartile spread 0.28 over ten runs)
        metrics["peak_rss_mb"] = statistics.median(rss) / 2**20
        return metrics, attempted, failed

    def measure_traced(self) -> dict:
        """Each operation once traced; the first one (scalar) also once
        untraced before, on the same input, for the tracing overhead. The
        untraced run finds colder caches, so the ratio errs low. An SMJ op
        gets the input of the broadcast op with the same stats, so that
        check() compares the two regimes row for row."""
        metrics = {}
        failed = attempted = 0
        queries = {}
        for op in self.ops:
            if op.stats not in queries:
                queries[op.stats] = self.next_query()
            q = queries[op.stats]
            if op is self.ops[0]:
                plain, bad, _ = self.run_op(op, q, f"{op.name}-plain")
                attempted += 1
                failed += bad
            wall, bad, layers = self.run_op(op, q, f"{op.name}-traced", True)
            attempted += 1
            failed += bad
            if op is self.ops[0]:
                metrics["trace.overhead_ratio"] = wall / plain
            if op not in self.W.OPS:
                metrics[f"query.wall_s.{op.name}"] = wall
            if layers is None:
                continue
            for name, key in TRACED_LAYERS[op.name].items():
                metrics[name] = layers[key]
        metrics.update(self.W.replay_pairs(queries[self.ops[0].stats].zones, self.corpus))
        return metrics, attempted, failed


def emit(spec_metrics, metrics: dict, correct: bool, attempted: int, failed: int) -> None:
    units = {m["name"]: m["unit"] for m in spec_metrics}
    if set(units) != set(metrics):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(metrics))}, "
            f"undeclared {sorted(set(metrics) - set(units))}"
        )
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "python_rasterstats_spark")):
        print("perfbench: the engine package python_rasterstats_spark is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    prepare_environment()
    bench = Bench(args)
    tracer = bench.tracer
    bench.rss.start()
    try:
        setup_s = bench.setup()
        bench.detail["setup_s"] = setup_s
        bench.detail["setup_spans_s"] = {
            sp["name"]: sp["end"] - sp["start"] for sp in tracer.spans if not sp["qid"]
        }
        if args.trace:
            metrics, attempted, failed = bench.measure_traced()
            metrics.update({
                "session.start_s": bench.session_s,
                "sources.ingest_s": bench.ingest_s,
                "sources.ingest_bytes_per_px": bench.ingest_bytes_per_px,
            })
            out = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as f:
                json.dump(tracer.spans, f)
            bench.detail["trace_file"] = os.path.relpath(out, ROOT)
        else:
            metrics, attempted, failed = bench.measure()
            metrics["setup_s"] = setup_s
    finally:
        if hasattr(bench, "spark"):
            stop_session(bench.spark)
        bench.rss.stop()
    print(json.dumps(bench.detail))
    emit(spec["per_layer" if args.trace else "end_to_end"], metrics,
         failed == 0, attempted, failed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
