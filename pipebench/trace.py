"""Measurement from outside the program: spans, per-layer observations,
Spark job counters, Python-boundary SQL metrics and process-tree RSS.

Nothing here edits ``osm_wayback_spark``. Layer outputs are captured by
wrapping the layer functions the ``pipeline`` module calls (and the
lineage writer) for the duration of one traced DAG build, then
restoring them.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F


class Tracer:
    """In-memory spans (name, start, end, parent, pass id), written
    out once when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "pass": self.pass_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, pass_id: int | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (pass_id is None or s["pass"] == pass_id)
        )

    def self_time(self, name: str, pass_id: int | None = None) -> float:
        """Span time minus the time its direct children cover."""
        kids = sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["parent"] == name and (pass_id is None or s["pass"] == pass_id)
        )
        return self.total(name, pass_id) - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- per-layer capture on the lazy DAG ---------------------------------------

# layer → (pipeline-module function, aggregates observed on its output)
def _layer_aggs():
    hist_n = F.size("history")
    refs = F.size(
        F.array_distinct(
            F.flatten(
                F.transform(
                    "history",
                    lambda r: F.coalesce(r["n"], F.array().cast("array<bigint>")),
                )
            )
        )
    )
    non_node = F.col("element_type") != "node"
    one = F.lit(1)
    return {
        "extract": ("extract_versions_native", [F.count(one).alias("rows")]),
        "dedup": ("dedup_versions", [F.count(one).alias("rows")]),
        "history": (
            "add_history",
            [
                F.count(one).alias("rows"),
                F.sum(hist_n).alias("records"),
                F.sum(F.when(hist_n == 0, 1).otherwise(0)).alias("lookup_fail"),
                F.max(hist_n).alias("max_records"),
            ],
        ),
        "locations": (
            "add_node_locations",
            [
                F.count(one).alias("rows"),
                F.sum(F.when(non_node, refs).otherwise(0)).alias("refs"),
                F.sum(
                    F.coalesce(F.size(F.map_keys("node_locations")), F.lit(0))
                ).alias("resolved"),
            ],
        ),
        "reconstruct": (
            "reconstruct",
            [
                F.count(one).alias("rows"),
                F.sum(F.when(F.col("geometry").isNull(), 1).otherwise(0)).alias(
                    "null_geom"
                ),
            ],
        ),
    }


# prefix order of the lazy DAG; each prefix's output is the handle of
# its last layer ("extract" is written through the dedup output, so
# that prefix is extract + dedup)
PREFIXES = ("extract", "history", "locations", "reconstruct", "tiles")
_HANDLE = {"extract": "dedup", "history": "history", "locations": "locations",
           "reconstruct": "reconstruct"}


@contextlib.contextmanager
def capture_layers():
    """While active, every layer function the ``pipeline`` module calls
    returns its DataFrame with a fresh Observation attached; yields
    dict layer → (DataFrame, Observation) of the latest call."""
    from osm_wayback_spark import pipeline

    got: dict[str, tuple] = {}
    saved = {}
    for layer, (fn_name, aggs) in _layer_aggs().items():
        orig = getattr(pipeline, fn_name)
        saved[fn_name] = orig

        def wrapped(*a, _orig=orig, _layer=layer, _aggs=aggs, **kw):
            obs = Observation(f"layer_{_layer}")
            out = _orig(*a, **kw).observe(obs, *_aggs)
            got[_layer] = (out, obs)
            return out

        setattr(pipeline, fn_name, wrapped)
    try:
        yield got
    finally:
        for fn_name, orig in saved.items():
            setattr(pipeline, fn_name, orig)


def prefix_handle(got: dict, prefix: str, tiles_df):
    return tiles_df if prefix == "tiles" else got[_HANDLE[prefix]][0]


# -- staged path: lineage spans ----------------------------------------------

@contextlib.contextmanager
def trace_lineage(tracer: Tracer):
    """Wrap ``plans.lineage.write_stage`` (span ``lineage.<stage>``)
    and ``partition_metrics`` (span ``lineage.checksum`` around the
    collect that runs the checksum pass)."""
    from osm_wayback_spark.plans import lineage

    orig_write, orig_pm = lineage.write_stage, lineage.partition_metrics

    def write_stage(df, root, stage):
        with tracer.span(f"lineage.{stage}"):
            return orig_write(df, root, stage)

    def partition_metrics(written):
        agg = orig_pm(written)
        collect = agg.collect

        def timed_collect():
            with tracer.span("lineage.checksum"):
                return collect()

        agg.collect = timed_collect
        return agg

    lineage.write_stage, lineage.partition_metrics = write_stage, partition_metrics
    try:
        yield
    finally:
        lineage.write_stage, lineage.partition_metrics = orig_write, orig_pm


# -- Spark-side counters ------------------------------------------------------

def job_counts(sc, group: str) -> dict:
    """Jobs, stages run, tasks and failed tasks of a job group, from
    the status tracker (works with the UI disabled)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped (reused) stage
            stages += 1
            tasks += si.numCompletedTasks + si.numFailedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([0-9][0-9.,]*) (B|KiB|MiB|GiB|TiB)")


def python_bytes(spark, since_execution: int) -> tuple[float, float]:
    """Σ "data sent to / returned from Python workers" over the
    MapInPandas nodes of SQL executions with id ≥ ``since_execution``,
    read from Spark's SQL status store. → (sent, received)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    sent = recv = 0.0
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid < since_execution:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            if "MapInPandas" not in node.name():
                continue
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                name = metric.name()
                if name not in ("data sent to Python workers",
                                "data returned from Python workers"):
                    continue
                val = values.get(metric.accumulatorId())
                if not val.isDefined():
                    continue
                hit = _SIZE_RE.search(val.get().split("\n")[-1])
                if hit:
                    b = float(hit.group(1).replace(",", "")) * _UNITS[hit.group(2)]
                    if name.startswith("data sent"):
                        sent += b
                    else:
                        recv += b
    return sent, recv


def next_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() + 1 for i in range(execs.size())), default=0)


# -- process-tree RSS ---------------------------------------------------------

def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while scanning
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(root_pid: int) -> list[int]:
    children, out = _children(), []
    todo = list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak RSS of this process and all its descendants (driver JVM,
    Python workers), sampled from /proc every ``interval`` seconds
    while ``active``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak = max(self.peak, _tree_rss_bytes(pid))

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)
