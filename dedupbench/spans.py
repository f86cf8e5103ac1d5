"""Spans around the program's public calls, and Spark event-log parsing.

The tracer replaces public functions of the ``miekki`` modules with
wrappers at run time (the program's files are never edited). A wrapper
records a span -- name, start, end, parent -- and sets the Spark job
description to the span id, so every Spark job started inside the call
is attributed to the innermost open span. Spans stay in memory until
the run ends.

Self time of a span is its duration minus the time its child spans
cover; the root span's self time is the part of the operation no
instrumented call accounts for.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute path, span name); a span name of None means the
# stage name passed to StageRunner.materialize
TRACED = [
    ("miekki.pipeline", "run", "pipeline.run"),
    ("miekki.pipeline", "candidate_edges", "pipeline.candidate_edges"),
    ("miekki.streaming", "incremental_dedup_batch", "stream.batch"),
    ("miekki.lineage", "StageRunner.materialize", None),
    ("miekki.lineage", "LineageLog.done_snapshots", "lineage.lookup"),
    ("miekki.lineage", "LineageLog.mark", "lineage.mark"),
    ("miekki.lineage", "emit_partition_metrics", "lineage.metrics"),
    ("miekki.catalog", "HadoopCatalog.overwrite", "catalog.overwrite"),
    ("miekki.catalog", "HadoopCatalog.append", "catalog.append"),
    ("miekki.catalog", "HadoopCatalog.read", "catalog.read"),
    ("miekki.stages.normalize", "normalize", "normalize"),
    ("miekki.stages.signatures", "signatures_from_text", "signatures"),
    ("miekki.stages.lsh", "minhash_candidate_edges", "lsh"),
    ("miekki.stages.lsh", "band_table", "lsh.band_table"),
    ("miekki.stages.lsh", "star_edges", "lsh.star_edges"),
    ("miekki.stages.verify", "verify_edges", "verify"),
    ("miekki.stages.simhash", "simhash_candidate_edges", "simhash"),
    ("miekki.stages.substr", "substr_candidate_edges", "substr"),
    ("miekki.stages.cc", "cc_labels", "cc"),
    ("miekki.stages.canonical", "select_canonical", "canonical"),
]

# modules whose namespaces may hold a `from ... import name` binding of
# a traced function; every binding is swapped, so call sites inside the
# program reach the wrapper
IMPORT_SITES = ["miekki.pipeline", "miekki.streaming"]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)
    _undo: list = field(default_factory=list)

    def open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(sid, name, parent, time.perf_counter()))
        self.stack.append(sid)
        self.spark.sparkContext.setJobDescription(f"span:{sid}")
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        self.spark.sparkContext.setJobDescription(
            None if parent is None else f"span:{parent}")

    @contextmanager
    def span(self, name: str):
        sid = self.open(name)
        try:
            yield sid
        finally:
            self.close(sid)

    def install(self) -> None:
        """Wrap every TRACED function and each import-site binding."""
        for mod_name, path, name in TRACED:
            mod = importlib.import_module(mod_name)
            owner, attr = mod, path
            if "." in path:
                cls, attr = path.split(".")
                owner = getattr(mod, cls)
            orig = getattr(owner, attr)
            wrapper = self._wrap(orig, name)
            self._swap(owner, attr, wrapper)
            if owner is mod:
                for site in IMPORT_SITES:
                    smod = importlib.import_module(site)
                    for k, v in list(vars(smod).items()):
                        if v is orig and smod is not mod:
                            self._swap(smod, k, wrapper)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _swap(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name or f"pipeline.stage.{args[1]}"
            sid = tracer.open(label)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sid)

        return wrapper

    # ---- read-out -------------------------------------------------
    def subtree(self, root: int) -> list[Span]:
        keep = {root}
        for s in self.spans[root + 1:]:
            if s.parent in keep:
                keep.add(s.sid)
        return [self.spans[i] for i in sorted(keep)]

    def self_times(self, root: int) -> dict[int, float]:
        """Span id -> duration minus the time its children cover
        (children of one span never overlap: calls are sequential)."""
        spans = self.subtree(root)
        child = defaultdict(float)
        for s in spans:
            if s.sid != root:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in spans}

    def inclusive(self, root: int, name: str) -> float:
        """Summed duration of the outermost ``name`` spans under root."""
        spans = self.subtree(root)
        by_id = {s.sid: s for s in spans}
        total = 0.0
        for s in spans:
            if s.name != name:
                continue
            p, nested = s.parent, False
            while p is not None and p in by_id:
                if by_id[p].name == name:
                    nested = True
                    break
                p = by_id[p].parent
            if not nested:
                total += s.end - s.start
        return total


# ---- Spark event log -------------------------------------------------

@dataclass
class StageStats:
    tasks: list[float] = field(default_factory=list)
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    jobs: dict[int, int] = field(default_factory=dict)       # job -> span
    stages: dict[int, int] = field(default_factory=dict)     # stage -> span
    stage_stats: dict[int, StageStats] = field(default_factory=lambda: defaultdict(StageStats))
    files_read: dict[int, int] = field(default_factory=lambda: defaultdict(int))  # span -> bytes

    def totals(self, span_ids: set[int]) -> dict:
        """Jobs, tasks, shuffle-written, spilled and file-scan bytes of
        the work started inside ``span_ids``."""
        stats = [st for sid, st in self.stage_stats.items()
                 if self.stages.get(sid) in span_ids]
        return {
            "jobs": sum(1 for s in self.jobs.values() if s in span_ids),
            "tasks": sum(len(s.tasks) for s in stats),
            "shuffle_mb": sum(s.shuffle_write for s in stats) / 2**20,
            "spill_mb": sum(s.spill for s in stats) / 2**20,
            "files_read_mb": sum(self.files_read[s] for s in span_ids) / 2**20,
            "straggler_ratio": straggler_ratio(stats),
        }


def straggler_ratio(stats: list[StageStats]) -> float:
    """max/median task wall of the stage with the longest task (the
    critical-path stage); 1.0 when no stage ran more than one task."""
    multi = [s.tasks for s in stats if len(s.tasks) > 1]
    if not multi:
        return 1.0
    worst = max(multi, key=max)
    med = statistics.median(worst)
    return max(worst) / med if med > 0 else 1.0


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    return int(desc[5:]) if desc.startswith("span:") else None


def parse_event_log(log_dir: str, app_id: str) -> EventLog:
    """Jobs, stages and task metrics of one application, keyed by the
    span that was open when Spark started them. File-scan sizes come
    from the SQL plan's 'size of files read' metric."""
    paths = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*")))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    ev = EventLog()
    scan_acc: dict[int, int] = {}    # accumulator id -> execution id
    exec_span: dict[int, int | None] = {}

    def walk(plan, exec_id):
        if plan["nodeName"].startswith("Scan"):
            for m in plan.get("metrics", []):
                if m["name"] == "size of files read":
                    scan_acc[m["accumulatorId"]] = exec_id
        for c in plan.get("children", []):
            walk(c, exec_id)

    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                span = _span_of(e.get("Properties"))
                ev.jobs[e["Job ID"]] = span
                for sid in e["Stage IDs"]:
                    ev.stages.setdefault(sid, span)
            elif kind == "SparkListenerStageSubmitted":
                span = _span_of(e.get("Properties"))
                if span is not None:
                    ev.stages[e["Stage Info"]["Stage ID"]] = span
            elif kind == "SparkListenerTaskEnd":
                ti, tm = e.get("Task Info") or {}, e.get("Task Metrics") or {}
                st = ev.stage_stats[e["Stage ID"]]
                st.tasks.append((ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3)
                sw = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                st.spill += tm.get("Disk Bytes Spilled", 0)
            elif kind.endswith("SQLExecutionStart"):
                exec_span[e["executionId"]] = _span_of(
                    {"spark.job.description": e.get("description")})
                walk(e["sparkPlanInfo"], e["executionId"])
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                walk(e["sparkPlanInfo"], e["executionId"])
            elif kind.endswith("DriverAccumUpdates"):
                for acc, val in e["accumUpdates"]:
                    if acc in scan_acc:
                        span = exec_span.get(scan_acc[acc])
                        if span is not None:
                            ev.files_read[span] += val
    return ev
