"""Traced-run support: spans around calls into the program's public
functions, and the fold of Spark's event log into per-layer numbers.

The benchmark measures every layer from outside. In a traced run
:func:`install` replaces the public functions named in ``WRAPPED`` by
wrappers in the module binding the caller looks them up in (for
``streaming.ingest`` that is the ingest module's own imported name).
Each wrapper records a span (name, start, end, parent, operation id)
in memory and runs its call under its own Spark job group, so the
event log attributes every job, task and SQL metric to the innermost
span that submitted it.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass

PKG = "lakehouse_spark_spark"

# (module the caller resolves the name in, attribute, span name)
WRAPPED = [
    ("session", "get_session", "session.get_session"),
    ("plans.pipeline", "run_pipeline", "plans.pipeline.run_pipeline"),
    ("sources.sinks", "write_parquet", "sources.sinks.write_parquet"),
    ("sources.sinks", "write_single_csv", "sources.sinks.write_single_csv"),
    ("streaming.ingest", "append_once_parquet", "sources.sinks.append_once_parquet"),
    ("streaming.ingest", "load_dedup_index", "operators.bloom.load_dedup_index"),
    ("streaming.ingest", "update_dedup_index", "operators.bloom.update_dedup_index"),
    ("operators.bloom", "write_dedup_index", "operators.bloom.write_dedup_index"),
    # ingest imports these inside its batch function, from the module
    ("operators.neardup", "load_neardup_index", "operators.neardup.load_neardup_index"),
    ("operators.neardup", "update_neardup_index", "operators.neardup.update_neardup_index"),
    ("operators.neardup", "write_neardup_index", "operators.neardup.write_neardup_index"),
    ("operators.annindex", "write_ann_index", "operators.annindex.write_ann_index"),
]

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    op: str
    parent: str | None
    start_ms: float
    end_ms: float = 0.0


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    no-op, so workload code marks its boundaries the same way in both
    modes."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        op_id = str(op) if op is not None else (parent.op if parent else "setup")
        with self._lock:
            sid = f"pb{next(self._ids)}"
        s = Span(sid, name, op_id, parent.id if parent else None, time.time() * 1000)
        stack.append(s)
        self._set_group(sid)
        try:
            yield
        finally:
            s.end_ms = time.time() * 1000
            stack.pop()
            self._set_group(stack[-1].id if stack else None)
            with self._lock:
                self.spans.append(s)

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(JOB_GROUP, group)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start_ms):
                fh.write(json.dumps(asdict(s)) + "\n")


def install(tracer: Tracer) -> None:
    """Replace each ``WRAPPED`` function by a span-recording wrapper."""
    for mod_name, attr, span_name in WRAPPED:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        fn = getattr(mod, attr)

        def make(fn=fn, span_name=span_name):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with tracer.span(span_name):
                    return fn(*args, **kwargs)

            return wrapper

        setattr(mod, attr, make())


# --------------------------------------------------------------------------
# event-log fold
# --------------------------------------------------------------------------
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
SQL_EXECUTION = "spark.sql.execution.id"

# (node-name prefix, SQL metric name) -> per-layer metric; values are
# converted by the metric's own type (nsTiming, timing or size). Task
# input bytes miss parquet reads in Spark 4.1, so scan volume is the
# scan nodes' "size of files read", which the Spark driver posts per query.
SQL_METRICS = {
    ("Scan", "scan time"): "sources.loaders.scan_s",
    ("Scan", "size of files read"): "sources.loaders.scan_mb",
    ("Scan", "number of output rows"): "sources.loaders.scan_rows",
    ("Sort", "sort time"): "operators.sort_s",
    ("HashAggregate", "time in aggregation build"): "operators.agg_build_s",
    ("ObjectHashAggregate", "time in aggregation build"): "operators.agg_build_s",
}


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        for (prefix, metric), key in SQL_METRICS.items():
            if node.get("nodeName", "").startswith(prefix) and m.get("name") == metric:
                out[m["accumulatorId"]] = (key, m.get("metricType"))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _convert(value: float, metric_type: str | None) -> float:
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "size":
        return value / 1e6
    return value


def event_log_files(log_dir: str) -> list[str]:
    """The finished event log of the one application that wrote to
    ``log_dir``: a single file, or Spark 4's rolling ``eventlog_v2_*``
    directory of numbered ``events_<n>_*`` parts."""
    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if parts:
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p) and not p.endswith(".inprogress")]


def fold_event_log(paths: list[str]) -> dict:
    """Per job group: job intervals, task count, task metrics and the
    SQL metrics above, summed from TaskEnd events and, for driver-side
    metrics, from the updates the Spark driver posts per query."""
    accs: dict[int, tuple[str, str | None]] = {}
    exec_group: dict[int, str] = {}
    driver_updates: list[tuple[int, int, float]] = []
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    groups: dict[str, dict] = {}

    def group(gid: str) -> dict:
        return groups.setdefault(gid, {"jobs": [], "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
                                       "shuffle_write_mb": 0.0, "spill_mb": 0.0, "fetch_wait_s": 0.0,
                                       "output_mb": 0.0, "sql": {}})

    for line in itertools.chain.from_iterable(map(_lines, paths)):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind in (SQL_START, SQL_AQE):
            _plan_metrics(ev.get("sparkPlanInfo", {}), accs)
        elif kind == SQL_DRIVER:
            driver_updates += [(ev["executionId"], acc, value) for acc, value in ev.get("accumUpdates", [])]
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get(JOB_GROUP)
            if gid is not None and props.get(SQL_EXECUTION) is not None:
                exec_group.setdefault(int(props[SQL_EXECUTION]), gid)
            jobs[ev["Job ID"]] = {"group": gid, "start": ev["Submission Time"], "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None or job["group"] is None:
                continue
            g = group(job["group"])
            g["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            g["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            g["fetch_wait_s"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
            g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
            g["output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                hit = accs.get(acc.get("ID"))
                if hit is None or acc.get("Update") is None:
                    continue
                key, mtype = hit
                g["sql"][key] = g["sql"].get(key, 0.0) + _convert(float(acc["Update"]), mtype)
    for exec_id, acc, value in driver_updates:
        hit, gid = accs.get(acc), exec_group.get(exec_id)
        if hit is not None and gid is not None:
            key, mtype = hit
            sql = group(gid)["sql"]
            sql[key] = sql.get(key, 0.0) + _convert(float(value), mtype)
    for job in jobs.values():
        if job["group"] is not None and job["end"] is not None:
            group(job["group"])["jobs"].append((job["start"], job["end"]))
    return groups


def _lines(path: str):
    with open(path) as fh:
        yield from fh


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def per_op(spans: list[Span], groups: dict, op_ids: list[str], op_span: str) -> dict:
    """Mean per measured operation of every span name's total time, plus
    the Spark numbers of the job groups the operation's spans own.
    ``op_span`` names the span that covers a whole operation."""
    by_op: dict[str, list[Span]] = {o: [] for o in op_ids}
    for s in spans:
        if s.op in by_op:
            by_op[s.op].append(s)
    rows = []
    for o in op_ids:
        ss = by_op[o]
        root = next((s for s in ss if s.name == op_span and s.parent is None), None)
        if root is None:
            continue
        row: dict[str, float] = {}
        for s in ss:
            row[s.name + "_s"] = row.get(s.name + "_s", 0.0) + (s.end_ms - s.start_ms) / 1e3
        gs = [groups[s.id] for s in ss if s.id in groups]
        intervals = [iv for g in gs for iv in g["jobs"]]
        row["spark.jobs"] = float(len(intervals))
        row["spark.tasks"] = float(sum(g["tasks"] for g in gs))
        for k in ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "fetch_wait_s", "output_mb"):
            row["spark." + k] = sum(g[k] for g in gs)
        for g in gs:
            for k, v in g["sql"].items():
                row[k] = row.get(k, 0.0) + v
        dur = root.end_ms - root.start_ms
        row["spark.driver_idle_s"] = (dur - _covered(intervals, root.start_ms, root.end_ms)) / 1e3
        rows.append(row)
    keys = sorted({k for r in rows for k in r})
    return {k: statistics.fmean(r.get(k, 0.0) for r in rows) for k in keys}


def self_time(spans: list[Span], name: str, op_ids: list[str]) -> float:
    """Mean per operation of ``name`` spans' duration minus the part of
    their interval that their direct child spans cover."""
    ops = set(op_ids)
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start_ms, s.end_ms))
    total = 0.0
    for s in spans:
        if s.name == name and s.op in ops:
            total += (s.end_ms - s.start_ms) - _covered(children.get(s.id, []), s.start_ms, s.end_ms)
    return total / 1e3 / max(1, len(op_ids))
