"""Spans recorded around calls into the engine, Spark event-log parsing,
and the per-layer metrics derived from both.

A span is opened by the benchmark's own code around one call into an
engine module. While it is open its id is the Spark job group of the
calling thread, so every job the call triggers carries the span's id in
the event log. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from stats import median

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float          # epoch seconds, comparable to event-log times
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; when disabled ``span`` only yields,
    so untraced runs set no job group and keep no records."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._sc = None

    def bind(self, sc) -> None:
        """Attach the SparkContext once the session exists."""
        self._sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name,
                 parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 time.time(), 0.0, attrs)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as a JSON list."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": own[s.id]}
                       for s in sorted(self.spans, key=lambda s: s.id)], f)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.id: s.dur - union_length(_clip(kids[s.id], s.start, s.end))
            for s in spans}


# -- Spark event log ----------------------------------------------------

#: plan nodes whose rows cross the JVM / Python-worker boundary
_PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")
_UDF_METRICS = {"data sent to Python workers": "udf.bytes_to_python",
                "data returned from Python workers": "udf.bytes_from_python",
                "number of output rows": "udf.rows_from_python"}

_STAGE_KEYS = ("tasks", "empty_tasks", "run_ms", "cpu_ns", "gc_ms",
               "shuffle_read", "shuffle_write", "spill",
               "udf.bytes_to_python", "udf.bytes_from_python",
               "udf.rows_from_python")


@dataclass
class GroupStats:
    """What the event log says about the jobs of one job group."""
    jobs: list = field(default_factory=list)   # (submit_s, end_s)
    stages: int = 0
    counters: dict = field(default_factory=lambda: dict.fromkeys(
        _STAGE_KEYS, 0))


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "events_*"))

    def index(p):
        return int(os.path.basename(p).split("_")[1])
    return sorted(files, key=index)


def _walk_plan(node, out: dict) -> None:
    if any(m in node.get("nodeName", "") for m in _PY_NODE_MARKERS):
        for m in node.get("metrics", []):
            if m["name"] in _UDF_METRICS:
                out[m["accumulatorId"]] = _UDF_METRICS[m["name"]]
    for c in node.get("children", []):
        _walk_plan(c, out)


def _add_task(c: dict, tm: dict) -> None:
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    records = ((tm.get("Input Metrics") or {}).get("Records Read", 0)
               + sr.get("Total Records Read", 0))
    c["tasks"] += 1
    c["empty_tasks"] += records == 0
    c["run_ms"] += tm.get("Executor Run Time", 0)
    c["cpu_ns"] += tm.get("Executor CPU Time", 0)
    c["gc_ms"] += tm.get("JVM GC Time", 0)
    c["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                          + sr.get("Local Bytes Read", 0))
    c["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    c["spill"] += tm.get("Disk Bytes Spilled", 0)


def parse_event_log(path: str) -> dict[str | None, GroupStats]:
    """Jobs, stages, task counters, shuffle, spill and Python-UDF
    traffic per job group (``None`` = jobs outside any group). ``path``
    is an event-log file or a rolling event-log directory."""
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    job_start: dict[int, tuple] = {}
    stage_group: dict[int, str | None] = {}
    udf_acc: dict[int, str] = {}
    udf_updates = []      # (group, accumulator id, update)
    for fp in _event_files(path):
        with open(fp) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    job_start[ev["Job ID"]] = (
                        g, ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerJobEnd":
                    g, t0 = job_start.pop(ev["Job ID"])
                    groups[g].jobs.append(
                        (t0, ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    stage_group[sid] = g
                    groups[g].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    _add_task(groups[g].counters,
                              ev.get("Task Metrics") or {})
                    udf_updates.extend(
                        (g, a["ID"], a.get("Update") or 0)
                        for a in (ev.get("Task Info") or {})
                        .get("Accumulables", [])
                        if a.get("Metadata") == "sql")
                elif "sparkPlanInfo" in ev:
                    _walk_plan(ev["sparkPlanInfo"], udf_acc)
    # SQL metrics are attributed after the whole log is read: a plan
    # update naming a Python node's accumulators may follow its tasks
    for g, acc, update in udf_updates:
        key = udf_acc.get(acc)
        if key is not None:
            groups[g].counters[key] += int(update)
    return dict(groups)


# -- per-layer metrics --------------------------------------------------

def _group_id(span: Span) -> str:
    return f"{GROUP_PREFIX}{span.id}"


class Attribution:
    """Joins spans with the event log: what each span's subtree cost."""

    def __init__(self, spans: list[Span], groups: dict):
        self.spans = {s.id: s for s in spans}
        self.groups = groups
        self.kids = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.kids[s.parent].append(s.id)

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(self.kids[sid])
        return out

    def stats(self, span: Span) -> list[GroupStats]:
        return [self.groups[g] for g in map(_group_id, self.subtree(span))
                if g in self.groups]

    def jobs(self, span: Span) -> int:
        return sum(len(g.jobs) for g in self.stats(span))

    def busy(self, span: Span) -> float:
        """Time within the span during which a Spark job was running."""
        iv = [j for g in self.stats(span) for j in g.jobs]
        return union_length(_clip(iv, span.start, span.end))

    def counter(self, spans, key: str) -> int:
        return sum(g.counters[key] for s in spans
                   for g in self.stats(s))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def derive(spans: list[Span], groups: dict, cores: int) -> dict:
    """Per-layer metrics from the spans of one run and its event log.

    Measured operations are the top-level ``op`` spans (warm-up
    operations run below ``setup.warmup``); set-up spans are named
    ``setup.*``; spans below an op name the engine call they time.
    """
    a = Attribution(spans, groups)
    ops = [s for s in spans if s.name == "op" and s.parent is None]
    by = defaultdict(list)
    for s in spans:
        if s.name.startswith("setup."):
            by[s.name].append(s)
    for s in (x for op in ops for x in a.subtree(op)):
        by[s.name].append(s)
    wall = sum(s.dur for s in ops)
    busy = sum(a.busy(s) for s in ops)
    tasks = a.counter(ops, "tasks")

    def kind(k: str) -> list[Span]:
        return [s for s in ops if s.attrs.get("kind") == k]

    m = {
        "session.start_s": sum(s.dur for s in by["setup.session"]),
        "setup.ingest_s": _med(s.dur for s in by["setup.ingest"]),
        "warmup_s": sum(s.dur for s in by["setup.warmup"]),
        "plan.build_s": sum(s.dur for s in by["plan"]),
        "plan.eager_jobs": sum(a.jobs(s) for s in by["plan"]),
        "exec.s": busy,
        "driver.gap_s": wall - busy,
        "spark.jobs": sum(a.jobs(s) for s in ops),
        "spark.stages": sum(g.stages for s in ops for g in a.stats(s)),
        "spark.tasks": tasks,
        "spark.empty_task_frac":
            a.counter(ops, "empty_tasks") / tasks if tasks else 0.0,
        "spark.busy_frac":
            a.counter(ops, "run_ms") / 1000.0 / (wall * cores)
            if wall else 0.0,
        "spark.shuffle_read_bytes": a.counter(ops, "shuffle_read"),
        "spark.shuffle_write_bytes": a.counter(ops, "shuffle_write"),
        "spark.spill_bytes": a.counter(ops, "spill"),
        "spark.executor_run_s": a.counter(ops, "run_ms") / 1000.0,
        "spark.executor_cpu_s": a.counter(ops, "cpu_ns") / 1e9,
        "spark.gc_s": a.counter(ops, "gc_ms") / 1000.0,
        "udf.bytes_to_python": a.counter(ops, "udf.bytes_to_python"),
        "udf.bytes_from_python": a.counter(ops, "udf.bytes_from_python"),
        "udf.rows_from_python": a.counter(ops, "udf.rows_from_python"),
        "spark.unattributed_jobs": len(groups[None].jobs)
        if None in groups else 0,
        # write path (graph.sync / graph.delta)
        "store.commit_jobs": _mean(a.jobs(s) for s in by["store.commit"]),
        "store.chain_depth": _mean(s.attrs["depth"]
                                   for s in by["store.commit"]),
        "store.commit_attempts": _mean(s.attrs["attempts"]
                                       for s in by["store.commit"]),
        "store.compact_s": _med(s.dur for s in by["store.compact"]),
        "store.compact_jobs": _mean(a.jobs(s)
                                    for s in by["store.compact"]),
        "store.refresh_s": _med(s.dur for s in by["store.refresh"]),
        # streaming.ingest via commit_mapped
        "ingest.batch_s": _med(s.dur for s in by["store.commit_mapped"]),
        "ingest.jobs_per_batch": _mean(a.jobs(s) for s in
                                       by["store.commit_mapped"]),
        # graphql.executor
        "gql.jobs": _mean(a.jobs(s) for s in by["gql.execute"]),
        "gql.rows_returned": _mean(s.attrs["rows"]
                                   for s in by["gql.execute"]),
    }
    # graph.graph reads, per kind
    for k in ("head", "asof", "history"):
        m[f"read.{k}_s"] = _med(s.dur for s in kind(f"read_{k}"))
        m[f"read.{k}_jobs"] = _mean(a.jobs(s) for s in kind(f"read_{k}"))
    return m
