"""Spans for the traced run, recorded from outside the engine.

The traced run wraps the public functions of each layer (see
``LAYER_FUNCTIONS``) so every call records a span: name, start, end,
parent span and request id. Spans stay in memory and are written when
the run ends. While a span is open its id is the Spark job group, so
jobs, stages and tasks can be attributed to it from
``SparkContext.statusTracker()`` during the run and from the event log
afterwards. Untraced runs install nothing.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import time
from collections import defaultdict

#: (module, attribute path, span name). Attribute paths with a dot
#: name a method on a class. Modules that imported a function by name
#: are listed again so the wrapped function is the one they call.
LAYER_FUNCTIONS = (
    ("ceres_spark.plans.target", "parse_target", "render.parse"),
    ("ceres_spark.plans.render", "parse_target", "render.parse"),
    ("ceres_spark.plans.render", "render", "render.build"),
    ("ceres_spark.operators.compact", "lww_dedup", "compact.lww_dedup"),
    ("ceres_spark.tree", "CeresTree.fetch", "tree.fetch"),
    ("ceres_spark.tree", "CeresTree.find", "tree.find"),
    ("ceres_spark.tree", "CeresTree.store", "tree.store"),
    ("ceres_spark.tree", "CeresTree.get_node", "tree.get_node"),
    ("ceres_spark.tree", "CeresTree.check", "tree.check"),
    ("ceres_spark.tree", "CeresNode.read", "node.read"),
    ("ceres_spark.tree", "CeresNode.read_metadata", "node.read_metadata"),
    ("ceres_spark.tree", "CeresNode.write", "node.write"),
    ("ceres_spark.catalog", "find", "catalog.find"),
    ("ceres_spark.sources.txn_log", "TransactionLog.commit", "txn_log.commit"),
    ("ceres_spark.streaming.ingest", "stream_store", "stream.start"),
    ("ceres_spark.operators.retention", "rollup_catalog", "retention.rollup_build"),
    ("ceres_spark.operators.text", "text_normalize", "text.normalize_build"),
    ("ceres_spark.operators.corpus", "quality_classifier", "corpus.quality_build"),
    ("ceres_spark.operators.dedup", "jaccard_pairs_vectorized", "dedup.pairs_build"),
    ("ceres_spark.operators.graph", "connected_components", "graph.cc"),
    ("ceres_spark.operators.semdedup", "semantic_dedup", "semdedup.build"),
    ("ceres_spark.operators.multimodal", "image_phash", "multimodal.phash_build"),
    ("ceres_spark.operators.multimodal", "phash_pairs", "multimodal.phash_pairs_build"),
)


class Span:
    __slots__ = ("id", "parent", "name", "req", "t0", "t1", "attrs")

    def __init__(self, sid, parent, name, req, t0):
        self.id, self.parent, self.name, self.req = sid, parent, name, req
        self.t0, self.t1, self.attrs = t0, None, {}

    def to_json(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "req": self.req, "t0": self.t0, "t1": self.t1,
                **({"attrs": self.attrs} if self.attrs else {})}


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a
    no-op, so workload code is the same in both kinds of run."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.sc = spark.sparkContext if (enabled and spark is not None) else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple] = []
        self.req = None

    # -- spans -------------------------------------------------------

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def _open(self, name, attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, self.req, time.perf_counter())
        s.attrs.update(attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(group_id(s.id), name)
        return s

    def _close(self, s):
        s.t1 = time.perf_counter()
        self._stack.pop()
        if self.sc is not None:
            s.attrs.update(self._status_counts(group_id(s.id)))
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(group_id(top.id), top.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _status_counts(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        if not jobs:
            return {}
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
        return {"st_jobs": len(jobs), "st_stages": len(stages),
                "st_tasks": tasks}

    # -- wrapping ----------------------------------------------------

    def install(self) -> None:
        """Wrap every function in :data:`LAYER_FUNCTIONS`."""
        for mod_name, path, span_name in LAYER_FUNCTIONS:
            owner = importlib.import_module(mod_name)
            *cls_path, attr = path.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name):
        if inspect.isgeneratorfunction(fn):
            # CeresTree.find is lazy: its work runs while the caller
            # iterates, so the span stays open until it is exhausted
            @functools.wraps(fn)
            def gen_wrapper(*args, **kwargs):
                with self.span(name):
                    yield from fn(*args, **kwargs)

            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- analysis ----------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover (children
        run on the caller's thread, so they never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None and s.t1 is not None:
                child[s.parent] += s.t1 - s.t0
        return {s.id: (s.t1 - s.t0) - child[s.id]
                for s in self.spans if s.t1 is not None}

    def by_name(self) -> dict[str, dict]:
        selfs = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.t1 is None:
                continue
            d = out.setdefault(s.name, {"calls": 0, "total_ms": 0.0,
                                        "self_ms": 0.0})
            d["calls"] += 1
            d["total_ms"] += (s.t1 - s.t0) * 1000.0
            d["self_ms"] += selfs[s.id] * 1000.0
        return out

    def total_ms(self, name: str, within: set[int] | None = None) -> float:
        """Summed duration of the spans named ``name`` (only those in
        ``within``, when given)."""
        return sum((s.t1 - s.t0) * 1000.0 for s in self.spans
                   if s.name == name and s.t1 is not None
                   and (within is None or s.id in within))

    def self_ms(self, name: str, within: set[int] | None = None) -> float:
        selfs = self.self_times()
        return sum(selfs[s.id] * 1000.0 for s in self.spans
                   if s.name == name and s.t1 is not None
                   and (within is None or s.id in within))

    def subtree(self, name: str) -> set[int]:
        """Ids of every span named ``name`` and all their descendants."""
        return self.subtree_of(s.id for s in self.spans if s.name == name)

    def subtree_of(self, roots) -> set[int]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s.parent].append(s.id)
        todo = list(roots)
        out = set()
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(kids[i])
        return out


class _SpanCtx:
    __slots__ = ("tr", "name", "attrs", "span")

    def __init__(self, tr, name, attrs):
        self.tr, self.name, self.attrs, self.span = tr, name, attrs, None

    def __enter__(self):
        if self.tr.enabled:
            self.span = self.tr._open(self.name, self.attrs)
        return self.span

    def __exit__(self, *exc):
        if self.span is not None:
            self.tr._close(self.span)
        return False


def group_id(span_id: int) -> str:
    return f"pb-{span_id}"


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the query a DataFrame
    last executed, from its ``QueryExecution`` phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next()._2().durationMs())
    return total


# --------------------------------------------------------------------
# event log
# --------------------------------------------------------------------

_PY_OPS = ("Python", "Pandas", "ArrowEval", "BatchEval", "PythonUDF")


def event_log_lines(log_dir: str):
    """JSON events from every application log under ``log_dir``.

    Handles a plain single-file log and a rolling ``eventlog_v2_*``
    directory (``events_<n>_*`` parts read in index order). A
    compressed log is refused: the traced run sets
    ``spark.eventLog.compress=false``."""
    paths = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            parts.sort(key=lambda q: int(os.path.basename(q).split("_")[1]))
            paths.extend(parts)
        else:
            paths.append(p)
    for p in paths:
        base = os.path.basename(p)
        if base.endswith((".lz4", ".lzf", ".snappy", ".zstd")):
            raise ValueError(f"compressed event log {base}; set "
                             "spark.eventLog.compress=false")
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def spark_by_group(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task run time, JVM CPU,
    Python-worker time (run − CPU on stages with a Python operator),
    shuffle bytes and GC, from the event log."""
    stage_group: dict[int, str] = {}
    stage_py: dict[int, bool] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    tasks_by_stage: dict[int, list] = defaultdict(list)
    for ev in event_log_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
            out[g]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
            stage_group[sid] = g
            text = " ".join(
                (r.get("Name") or "") + " " + (r.get("Scope") or "")
                for r in info.get("RDD Info", [])
            )
            stage_py[sid] = any(k in text for k in _PY_OPS)
            out[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tasks_by_stage[ev["Stage ID"]].append(ev.get("Task Metrics") or {})
    for sid, tms in tasks_by_stage.items():
        g = stage_group.get(sid, "-")
        d = out[g]
        for tm in tms:
            run = float(tm.get("Executor Run Time", 0))
            cpu = float(tm.get("Executor CPU Time", 0)) / 1e6
            d["tasks"] += 1
            d["task_run_ms"] += run
            d["jvm_cpu_ms"] += cpu
            d["gc_ms"] += float(tm.get("JVM GC Time", 0))
            d["records_read"] += float(
                (tm.get("Input Metrics") or {}).get("Records Read", 0))
            if stage_py.get(sid):
                d["python_ms"] += max(0.0, run - cpu)
            sr = tm.get("Shuffle Read Metrics") or {}
            d["shuffle_read_bytes"] += float(
                sr.get("Remote Bytes Read", 0)) + float(sr.get("Local Bytes Read", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            d["shuffle_write_bytes"] += float(sw.get("Shuffle Bytes Written", 0))
    return {g: dict(v) for g, v in out.items()}
