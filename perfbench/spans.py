"""Spans around layer calls, and Spark counters charged to them.

A :class:`Tracer` records one span per call into a layer: its name (the
layer, ``<module>.<function>``), start, end and parent. While a span is
open it is the Spark job group of the calling thread, so the event log
charges every job, task, shuffle byte, CPU second and GC second to the
innermost open span. Spans stay in memory; :meth:`Tracer.layers` folds
them with the parsed event log into per-layer counters once the session
has stopped and flushed its log.

Counters are *self* counters: a job belongs to the innermost span that
was open when it started, never to that span's parents. ``wall_s`` is a
span's whole duration and ``self_s`` its duration minus the time its
child spans cover. Time the benchmark spends on its own bookkeeping
inside a span (:meth:`Tracer.untimed`) counts in neither. Spans are
recorded only while ``active`` is set, so
set-up and the untimed checks between operations are left out; their
jobs carry no job group and are not counted.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

COUNTERS = (
    "wall_s", "self_s", "calls", "jobs", "tasks", "shuffle_bytes",
    "input_bytes", "cpu_s", "spill_bytes", "gc_s",
)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []  # id, name, parent, t0, t1
        self.stack: list[dict] = []
        self.untimed_spans: list[tuple[float, float]] = []  # bookkeeping, see untimed()
        self.extra: dict[str, float] = defaultdict(float)  # layer-specific counters
        self.active = False

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    def span(self, name: str):
        return _Span(self, name) if self.active else contextlib.nullcontext()

    @contextlib.contextmanager
    def untimed(self):
        """Bookkeeping of the benchmark's own: its time is taken out of the
        ``wall_s`` and ``self_s`` of every span open around it."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.active:
                self.untimed_spans.append((t0, time.perf_counter()))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span per call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def layers(self, event_log: str) -> dict[str, dict[str, float]]:
        """Per-layer counters: spans folded with the event log's task metrics."""
        by_id = {s["id"]: s for s in self.spans}
        out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["t0"], s["t1"]))
        for s in self.spans:
            row = out[s["name"]]
            inside = [(a, b) for a, b in self.untimed_spans if s["t0"] <= a and b <= s["t1"]]
            row["wall_s"] += s["t1"] - s["t0"] - _covered(inside)
            row["self_s"] += s["t1"] - s["t0"] - _covered(children[s["id"]] + inside)
            row["calls"] += 1
        for group, counts in read_event_log(event_log).items():
            if group not in by_id:
                continue  # set-up or between operations
            row = out[by_id[group]["name"]]
            for k, v in counts.items():
                row[k] += v
        for key, v in self.extra.items():
            layer, counter = key.rsplit(".", 1)
            out[layer][counter] = out[layer].get(counter, 0.0) + v
        return dict(out)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        tr = self.tracer
        parent = tr.stack[-1] if tr.stack else None
        self.rec = {
            "id": f"span-{len(tr.spans)}",
            "name": self.name,
            "parent": parent["id"] if parent else None,
            "t0": time.perf_counter(),
            "t1": None,
        }
        tr.spans.append(self.rec)
        tr.stack.append(self.rec)
        tr._set_group(self.rec)
        return self.rec

    def __exit__(self, *exc):
        tr = self.tracer
        self.rec["t1"] = time.perf_counter()
        tr.stack.pop()
        tr._set_group(tr.stack[-1] if tr.stack else None)
        return False


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Sum task metrics by job group from an uncompressed Spark event log.

    A stage is charged to the group of the first job that lists it; a
    stage skipped because an earlier job already computed its shuffle
    output runs no tasks, so nothing is counted twice."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "")
                m = ev.get("Task Metrics") or {}
                row = out[group]
                row["tasks"] += 1
                row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                row["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                row["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return out


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def status_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) of one job group, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


class WriteMeter:
    """Bytes and files a catalog commit added, told apart from hardlinks.

    A new file name whose inode was already present under the root is a
    hardlinked reuse; a new inode is a written file."""

    def __init__(self, root: str):
        self.root = root
        self.seen = self._scan()

    def _scan(self) -> dict[str, os.stat_result]:
        out = {}
        for d, _, files in os.walk(self.root):
            for n in files:
                p = os.path.join(d, n)
                try:
                    out[p] = os.stat(p)
                except FileNotFoundError:  # retired by the trash thread meanwhile
                    pass
        return out

    def delta(self) -> tuple[int, int, int]:
        """(files written, files linked, bytes written) since the last call."""
        known = {st.st_ino for st in self.seen.values()}
        now = self._scan()
        written = linked = nbytes = 0
        for p, st in now.items():
            if p in self.seen:
                continue
            if st.st_ino in known:
                linked += 1
            else:
                known.add(st.st_ino)
                written += 1
                nbytes += st.st_size
        self.seen = now
        return written, linked, nbytes
