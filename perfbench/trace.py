"""Tracing for the separate traced run: in-memory spans around the calls
into each layer, one Spark job group per span, and a fold of the Spark
event log's task metrics per job group.

Spans are recorded only by the benchmark's wrappers; the library is
called unchanged. ``instrument_pipeline`` swaps the wrappers in around
one ``run_pipeline`` call and restores the originals afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

from pyspark.sql.readwriter import DataFrameReader

from logstash_integration_jdbc_spark import pipeline as pipeline_mod
from logstash_integration_jdbc_spark.operators.router import Router
from logstash_integration_jdbc_spark.sources.value_tracking import ValueTracker

from stats import Span, self_times

GROUP_KEY = "spark.jobGroup.id"
PY_TIME = "time to run Python workers"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Spans kept in memory; each open span names the Spark job group of
    the jobs it triggers (``<name>#<span id>``)."""

    def __init__(self, workload: str = "") -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.workload = workload
        self.batch: int | None = None
        self.sc = None

    def _set_group(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"{top.name}#{top.id}", top.name)
        else:
            self.sc.setLocalProperty(GROUP_KEY, None)

    def begin(self, name: str) -> Span:
        s = Span(id=len(self.spans), name=name, start=time.perf_counter(),
                 parent=self._stack[-1].id if self._stack else None,
                 workload=self.workload, batch=self.batch)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group()
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.remove(s)
        self._set_group()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def find(self, name: str, workload: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (workload is None or s.workload == workload)]

    def self_time(self) -> dict[int, float]:
        return self_times([s for s in self.spans if s.end is not None])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "workload": s.workload, "batch": s.batch}) + "\n")


@contextlib.contextmanager
def instrument_pipeline(tracer: Tracer):
    """Spans around the layer calls ``run_pipeline`` makes.

    The write of the routed frame fuses scan, parse and enrich, so those
    three get no span here (the traced run times them as noop-sink
    prefixes). The aggregate block has no function of its own to wrap:
    its span runs from the end of the sink write to the cursor job that
    follows it in ``run_pipeline``. Its own parquet reads are listings:
    of the table before the write (``scan.list``) and of the sinks inside
    the aggregate (``aggregate.list``).
    """
    orig_read = DataFrameReader.parquet
    orig_lookups = pipeline_mod.build_lookups
    orig_cursors = pipeline_mod.partition_cursors
    orig_write_all = Router.write_all
    orig_ckpt = ValueTracker.write
    pending: list[Span] = []

    def close_aggregate():
        while pending:
            tracer.end(pending.pop())

    def read_parquet(self, *a, **k):
        top = tracer._stack[-1].name if tracer._stack else None
        name = {"aggregate": "aggregate.list", "pipeline.batch": "scan.list"}.get(top)
        if name is None:  # e.g. a dimension load inside lookup.build
            return orig_read(self, *a, **k)
        with tracer.span(name):
            return orig_read(self, *a, **k)

    def build_lookups(*a, **k):
        with tracer.span("lookup.build"):
            return orig_lookups(*a, **k)

    def write_all(self, *a, **k):
        close_aggregate()
        with tracer.span("router.write"):
            out = orig_write_all(self, *a, **k)
        pending.append(tracer.begin("aggregate"))
        return out

    def partition_cursors(*a, **k):
        close_aggregate()
        with tracer.span("scan.cursors"):
            return orig_cursors(*a, **k)

    def ckpt_write(self):
        with tracer.span("checkpoint.write"):
            return orig_ckpt(self)

    DataFrameReader.parquet = read_parquet
    pipeline_mod.build_lookups = build_lookups
    pipeline_mod.partition_cursors = partition_cursors
    Router.write_all = write_all
    ValueTracker.write = ckpt_write
    try:
        yield
    finally:
        close_aggregate()
        DataFrameReader.parquet = orig_read
        pipeline_mod.build_lookups = orig_lookups
        pipeline_mod.partition_cursors = orig_cursors
        Router.write_all = orig_write_all
        ValueTracker.write = orig_ckpt


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, non-rolling event log: Spark 4 defaults to zstd,
    which this Python cannot read without the ``zstandard`` module."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _new_fold() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "python_worker_s": 0.0, "python_bytes": 0, "stage_task_s": {}}


def fold_event_logs(log_dir: str) -> dict[str, dict]:
    """Job group → summed task metrics, from every event log in the dir.

    Task-level SQL accumulables carry the Python-worker time and bytes
    (``time to run Python workers`` in ms). ``stage_task_s`` keeps each
    stage's task durations for the skew ratio.
    """
    folds: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY)
                    if group is None:
                        continue
                    folds.setdefault(group, _new_fold())["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    f = folds[group]
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    f["tasks"] += 1
                    f["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    f["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    f["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    f["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    f["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    f["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if upd is None:
                            continue
                        if name == PY_TIME:
                            f["python_worker_s"] += int(upd) / 1e3
                        elif name in PY_BYTES:
                            f["python_bytes"] += int(upd)
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                    f["stage_task_s"].setdefault((path, ev.get("Stage ID")), []).append(dur)
    return folds


def fold_by_name(folds: dict[str, dict], span_ids: set[int] | None = None) -> dict[str, dict]:
    """Merge per-span groups (``<name>#<id>``) into one fold per span
    name, keeping only the given span ids when a set is passed."""
    out: dict[str, dict] = {}
    for group, f in folds.items():
        name, _, sid = group.rpartition("#")
        if span_ids is not None and int(sid) not in span_ids:
            continue
        g = out.setdefault(name, _new_fold())
        for k, v in f.items():
            if k == "stage_task_s":
                g[k].update(v)
            else:
                g[k] += v
    return out


def task_skew(fold: dict) -> float:
    """max / median task time of the stage with the most task time."""
    stages = fold["stage_task_s"]
    if not stages:
        return 0.0
    durs = max(stages.values(), key=sum)
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 0.0
