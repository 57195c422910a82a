"""Measurement from outside the engine: executed-plan SQL metrics, Spark
stage spans from the JVM status store, benchmark spans, and process RSS.

Nothing here changes what the engine runs. Plan metrics are read from the
query's own QueryExecution after its ``collect()``; the stage spans come
from jobs the benchmark tagged with a job group and description.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Node:
    id: int
    parent: int | None
    cls: str
    metrics: dict
    scan_path: str = ""
    scan_columns: tuple = ()


_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # to seconds


def _node_metrics(plan) -> dict:
    out = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = m.value() * _UNIT_SCALE.get(m.metricType(), 1)
    return out


def executed_nodes(df) -> list[Node]:
    """Physical nodes of the DataFrame's executed plan, descending through
    AdaptiveSparkPlanExec and every *QueryStageExec wrapper. A reused
    exchange is skipped: its metrics live on the exchange it reuses."""
    nodes: list[Node] = []
    stack = [(df._jdf.queryExecution().executedPlan(), None)]
    while stack:
        plan, parent = stack.pop()
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append((plan.executedPlan(), parent))
            continue
        if cls.endswith("QueryStageExec"):
            stack.append((plan.plan(), parent))
            continue
        if cls == "ReusedExchangeExec":
            continue
        node = Node(len(nodes), parent, cls, _node_metrics(plan))
        if cls == "FileSourceScanExec":
            node.scan_path = plan.relation().location().rootPaths().head().toString()
            node.scan_columns = tuple(plan.requiredSchema().fieldNames())
        nodes.append(node)
        children = plan.children()
        for i in range(children.size()):
            stack.append((children.apply(i), node.id))
    return nodes


def _ancestors(nodes: list[Node], node: Node) -> list[Node]:
    out = []
    while node.parent is not None:
        node = nodes[node.parent]
        out.append(node)
    return out


def plan_layers(nodes: list[Node], tile_dir: str) -> dict:
    """Per-layer counters of one executed zonal or point plan.

    The payload scan is the scan of the tile table that reads the ``bytes``
    column; the kernel is the first Python node above it. Python nodes
    above the kernel are the merge; the others generate cover cells."""
    scans = [
        n for n in nodes
        if n.scan_path.startswith("file:" + tile_dir) or n.scan_path.startswith(tile_dir)
    ]
    payload = [n for n in scans if "bytes" in n.scan_columns]
    python = [n for n in nodes if "pythonDataSent" in n.metrics]
    kernel = next(n for n in _ancestors(nodes, payload[0]) if "pythonDataSent" in n.metrics)
    above = _ancestors(nodes, kernel)
    above_ids = {n.id for n in above}
    # aggregation after the first exchange above the kernel is merge work;
    # below it, aggTime includes pulling rows out of the kernel itself
    merge_aggs, crossed = [], False
    for n in above:
        crossed = crossed or n.cls == "ShuffleExchangeExec"
        if crossed and "aggTime" in n.metrics:
            merge_aggs.append(n)
    scan_bytes = sum(n.metrics.get("filesSize", 0) for n in payload)
    km = kernel.metrics
    return {
        "scan_bytes": scan_bytes,
        "scan_tiles": sum(n.metrics.get("numOutputRows", 0) for n in payload),
        "kernel_python_s": km.get("pythonTotalTime", 0.0),
        "kernel_arrow_in_bytes": km["pythonDataSent"],
        "kernel_arrow_out_bytes": km.get("pythonDataReceived", 0),
        "partial_rows": km.get("pythonNumRowsReceived", 0),
        "payload_crossings": km["pythonDataSent"] / scan_bytes if scan_bytes else 0.0,
        "cells_python_s": sum(
            n.metrics.get("pythonTotalTime", 0.0)
            for n in python if n is not kernel and n.id not in above_ids
        ),
        "merge_s": sum(
            n.metrics.get("pythonTotalTime", 0.0) for n in python if n.id in above_ids
        ) + sum(n.metrics["aggTime"] for n in merge_aggs),
        "shuffle_bytes": sum(
            n.metrics.get("shuffleBytesWritten", 0)
            for n in nodes if n.cls == "ShuffleExchangeExec"
        ),
        "broadcast_bytes": sum(
            n.metrics.get("dataSize", 0)
            for n in nodes if n.cls == "BroadcastExchangeExec"
        ),
    }


class Tracer:
    """Spans kept in memory and written out when the benchmark ends.

    A span is (id, parent, query id, name, start, end, attributes); times
    are epoch seconds so that Spark stage times line up with them."""

    def __init__(self):
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, qid: str = "", parent: int | None = None, **attrs):
        rec = {"id": len(self.spans), "parent": parent, "qid": qid, "name": name,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def stage_spans(self, sc, group: str, qid: str, parent: int) -> None:
        """Child spans for every stage of the jobs in ``group``, read from the
        JVM status store."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for job in sc.statusTracker().getJobIdsForGroup(group):
            ids = store.job(job).stageIds()
            for i in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(i))
                if not st.completionTime().isDefined():
                    continue  # skipped: its output was reused
                self.spans.append({
                    "id": len(self.spans), "parent": parent, "qid": qid,
                    "name": f"stage {st.stageId()}",
                    "start": st.submissionTime().get().getTime() / 1e3,
                    "end": st.completionTime().get().getTime() / 1e3,
                    "attrs": {
                        "job": job, "tasks": st.numTasks(),
                        "executor_run_s": st.executorRunTime() / 1e3,
                        "description": st.description().get()
                        if st.description().isDefined() else "",
                    },
                })


def _children_of(root: int) -> list[int]:
    parents = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # process ended while walking
        parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


@dataclass
class RssSampler:
    """Peak summed RSS of this process' descendants (the Spark JVM and the
    Python workers it forks), sampled from /proc, per window."""

    interval: float = 0.2
    window_peak: int = 0
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def _run(self):
        me = os.getpid()
        while not self._stop.wait(self.interval):
            rss = sum(_rss_bytes(p) for p in _children_of(me))
            self.window_peak = max(self.window_peak, rss)

    def take_window(self) -> int:
        """The peak since the previous call; starts a new window."""
        peak, self.window_peak = self.window_peak, 0
        return peak

    def start(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
