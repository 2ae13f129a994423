"""Per-layer tracing for the KG-build benchmark.

A ``Tracer`` wraps the public calls of each layer from outside the library
(it patches module and class attributes while it is installed and restores
them afterwards). Every wrapped call records a span -- layer name, wrapped
call, start, end, parent span and run id -- and tags the Spark jobs it
starts with ``SparkContext.setJobDescription(<layer>)``; the previous
description is restored on exit. Spans stay in memory until the run ends.

``layer_stage_metrics`` reads the uncompressed Spark event log of the
traced session and sums each layer's Spark-stage costs from the tasks of
the jobs it tagged.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass

LAYERS = (
    "gazetteer", "extract", "page_index", "triples", "link", "canonicalize",
    "edges", "nodes", "bookkeeping", "upsert", "other",
)
LAYER_METRICS = (
    "wall_s", "jobs", "executor_run_s", "python_run_s", "python_bytes_sent",
    "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes", "task_skew",
    "rows_out", "failed_tasks",
)
# Warehouse.commit(table) -> layer that produced the table
COMMIT_LAYER = {
    "extracted": "extract",
    "page_index": "page_index",
    "triples_raw": "triples",
    "linked": "link",
    "canon_map": "canonicalize",
    "edges": "edges",
    "nodes": "nodes",
}
_DESC = "spark.job.description"


@dataclass
class Span:
    name: str        # layer
    call: str        # wrapped function
    start: float     # time.perf_counter()
    end: float | None
    parent: int | None
    run_id: str


class Tracer:
    """Install with ``with tracer.installed(): tracer.job(run_id, fn)``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.jobs: list[dict] = []
        self._stack: list[tuple[int, str | None]] = []
        self._sticky: int | None = None
        self._run_id = ""
        self._self_s = 0.0  # time spent in span bookkeeping and job descriptions

    # -- spans ---------------------------------------------------------------

    def _open(self, layer: str, call: str) -> int:
        t = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1][0] if self._stack else None
        self.spans.append(Span(layer, call, time.perf_counter(), None, parent, self._run_id))
        self._stack.append((idx, self.sc.getLocalProperty(_DESC)))
        self.sc.setJobDescription(layer)
        self._self_s += time.perf_counter() - t
        return idx

    def _close(self, idx: int) -> None:
        top, prev = self._stack.pop()
        if top != idx:
            raise RuntimeError(f"span {idx} closed while span {top} is open")
        t = self.spans[idx].end = time.perf_counter()
        self.sc.setJobDescription(prev)
        self._self_s += time.perf_counter() - t

    def _wrap(self, fn, layer_of):
        """``layer_of(*args, **kwargs)`` names the call's layer, or None to
        leave the call untraced."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            layer = layer_of(*args, **kwargs)
            if layer is None:
                return fn(*args, **kwargs)
            idx = self._open(layer, fn.__qualname__)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)

        return wrapped

    def _wrap_canon(self, fn):
        # canonicalize spans from canonical_map_with_drops' entry to the
        # exit of commit("canon_map"): the dropped-bucket count the pipeline
        # runs in between belongs to this layer, not to "other"
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            idx = self._open("canonicalize", fn.__qualname__)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                self._close(idx)
                raise
            self._sticky = idx
            return out

        return wrapped

    def _wrap_commit(self, fn):
        inner = self._wrap(fn, _commit_layer)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            try:
                return inner(*args, **kwargs)
            finally:
                if self._sticky is not None and _table(*args, **kwargs) == "canon_map":
                    self._close(self._sticky)
                    self._sticky = None

        return wrapped

    def installed(self):
        from augmented_codebase_indexer_spark.plans import pipeline
        from augmented_codebase_indexer_spark.sources.catalog import Warehouse

        patches = [
            (pipeline, "linker_stages", self._wrap(pipeline.linker_stages, lambda *a, **k: "gazetteer")),
            (pipeline, "canonical_map_with_drops", self._wrap_canon(pipeline.canonical_map_with_drops)),
            (Warehouse, "commit", self._wrap_commit(Warehouse.commit)),
            (Warehouse, "record_lineage", self._wrap(Warehouse.record_lineage, lambda *a, **k: "bookkeeping")),
            (Warehouse, "commit_checkpoint", self._wrap(Warehouse.commit_checkpoint, lambda *a, **k: "bookkeeping")),
            (Warehouse, "record_metrics", self._wrap(Warehouse.record_metrics, _metrics_layer)),
            (Warehouse, "upsert_buckets", self._wrap(Warehouse.upsert_buckets, lambda *a, **k: "upsert")),
        ]
        return _Patched(patches)

    def job(self, run_id: str, fn):
        """Run one traced job call; its Spark jobs carry the tag
        ``perfbench-<run_id>``. Returns ``(fn(), wall_s)``."""
        self._run_id = run_id
        self._self_s = 0.0
        tag = f"perfbench-{run_id}"
        self.sc.addJobTag(tag)
        first = len(self.spans)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            t1 = time.perf_counter()
            while self._stack:  # a layer that raised mid-span
                self._close(self._stack[-1][0])
            self._sticky = None
            self.sc.removeJobTag(tag)
        self.jobs.append({"run_id": run_id, "tag": tag, "start": t0, "end": t1,
                          "spans": (first, len(self.spans)), "span_s": self._self_s})
        return out, t1 - t0

    def layer_walls(self, job: dict) -> dict[str, float]:
        """Self time per layer: each instant of the job belongs to the
        innermost open span; what no span covers is ``other``. The layers
        sum to the job wall by construction."""
        lo, hi = job["spans"]
        spans = self.spans[lo:hi]
        child = [0.0] * len(spans)
        for s in spans:
            if s.parent is not None and s.parent >= lo:
                child[s.parent - lo] += s.end - s.start
        walls = dict.fromkeys(LAYERS, 0.0)
        for i, s in enumerate(spans):
            walls[s.name] += (s.end - s.start) - child[i]
        walls["other"] = (job["end"] - job["start"]) - sum(
            v for k, v in walls.items() if k != "other"
        )
        return walls

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"jobs": self.jobs, "spans": [asdict(s) for s in self.spans]}, f)


class _Patched:
    def __init__(self, patches):
        self.patches = patches
        self.saved = []

    def __enter__(self):
        for owner, name, new in self.patches:
            self.saved.append((owner, name, owner.__dict__[name]))
            setattr(owner, name, new)
        return self

    def __exit__(self, *exc):
        for owner, name, old in reversed(self.saved):
            setattr(owner, name, old)
        self.saved.clear()


def _table(self, df=None, table=None, *a, **k):
    return table


def _commit_layer(*args, **kwargs):
    return COMMIT_LAYER.get(_table(*args, **kwargs))


def _metrics_layer(self, spark, source, *a, **k):
    return "canonicalize" if source == "canonicalize" else "bookkeeping"


# -- event log -----------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _plan_write_rows_ids(plan: dict, out: set) -> None:
    if plan.get("nodeName") == _WRITE_NODE:
        out.update(m["accumulatorId"] for m in plan.get("metrics", [])
                   if m["name"] == "number of output rows")
    for c in plan.get("children", []):
        _plan_write_rows_ids(c, out)


def event_log_files(event_log_dir: str) -> list[str]:
    """The session's event-log files in write order (Spark 4 writes a
    rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory)."""
    out = [os.path.join(d, f) for d, _, files in os.walk(event_log_dir)
           for f in files if f.startswith("events_")]
    return sorted(out, key=lambda p: int(os.path.basename(p).split("_")[1]))


def layer_stage_metrics(event_log_dir: str, tag: str) -> dict[str, dict]:
    """Per-layer Spark costs of the traced job call whose jobs carry
    ``tag``: jobs, executor run time, Python worker time and bytes sent,
    shuffle write, spill, peak execution memory, task skew, rows written
    and failed tasks. A tagged job without a layer description counts to
    ``other``."""
    per = {L: _empty() for L in LAYERS}
    stage_of: dict[int, str] = {}
    exec_of: dict[int, str] = {}
    write_ids: dict[int, set] = {}
    task_ms: dict[str, list[float]] = {}

    def layer(tags: str | None, desc: str | None) -> str | None:
        if tag not in (tags or "").split(","):
            return None
        return desc if desc in LAYERS else "other"

    for line in _lines(event_log_files(event_log_dir)):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            L = layer(props.get("spark.job.tags"), props.get(_DESC))
            if L:
                per[L]["jobs"] += 1
                # a stage runs once, in the first job that lists it; later
                # jobs that list it skip it
                for sid in ev["Stage IDs"]:
                    stage_of.setdefault(sid, L)
        elif kind == "SparkListenerTaskEnd":
            L = stage_of.get(ev["Stage ID"])
            if L is None:
                continue
            m = per[L]
            tm = ev.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            m["executor_run_s"] += run_ms / 1000.0
            task_ms.setdefault(L, []).append(run_ms)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["peak_exec_mem_bytes"] = max(m["peak_exec_mem_bytes"],
                                           tm.get("Peak Execution Memory", 0))
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                m["failed_tasks"] += 1
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PY_TIME:
                    m["python_run_s"] += float(acc.get("Update", 0)) / 1000.0  # a ms timing metric
                elif acc.get("Name") == _PY_SENT:
                    m["python_bytes_sent"] += int(acc.get("Update", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            L = layer(",".join(ev.get("jobTags") or []), ev.get("description"))
            if L:
                exec_of[ev["executionId"]] = L
                _plan_write_rows_ids(ev["sparkPlanInfo"], write_ids.setdefault(ev["executionId"], set()))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            # adaptive re-planning can give the write node fresh metrics
            if ev["executionId"] in write_ids:
                _plan_write_rows_ids(ev["sparkPlanInfo"], write_ids[ev["executionId"]])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            # a file write reports its row count from the driver
            L = exec_of.get(ev["executionId"])
            if L:
                ids = write_ids[ev["executionId"]]
                per[L]["rows_out"] += sum(int(v) for i, v in ev["accumUpdates"] if i in ids)

    for L, times in task_ms.items():
        per[L]["task_skew"] = max(times) / max(statistics.median(times), 1.0)
    return per


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f


def _empty() -> dict:
    return {m: 0 for m in LAYER_METRICS if m != "wall_s"}
